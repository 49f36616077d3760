package graft

import graft.functions.GraftFunctions
import graft.ops.{Dedup, OpCaches}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.functions.col

/** Graft functions are installed once per session: by `GraftExtensions` at
  * session construction, or by the guarded entry points
  * (`GraftSession.attach`, `SparkEntry.queries`) for a session built
  * without the extension. Operators never re-register them.
  */
class GraftFunctionsRegistrationSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def registered(s: SparkSession): Seq[Option[ExpressionInfo]] =
    GraftFunctions.functions.map { case (name, _) =>
      s.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(name))
    }

  /** A session that has never seen the extension's functions. */
  private def sessionWithoutGraftFunctions(): SparkSession = {
    val s = spark.newSession()
    GraftFunctions.functions.foreach { case (name, _) =>
      s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name))
    }
    assert(registered(s).forall(_.isEmpty))
    s
  }

  test("an operator call leaves the session's registered graft functions in place") {
    val id = FunctionIdentifier("graft_minhash_sig")
    val before = spark.sessionState.functionRegistry.lookupFunction(id)
    assert(before.isDefined)
    val docs = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox jumped"))
      .toDF("doc_id", "text")
    Dedup.minhashNearDupPairs(docs, "doc_id", col("text")).count()
    OpCaches.release()
    val after = spark.sessionState.functionRegistry.lookupFunction(id)
    assert(after.exists(_ eq before.get), "the operator replaced graft_minhash_sig")
  }

  test("GraftSession.attach installs missing graft functions; a second attach replaces none") {
    val s = sessionWithoutGraftFunctions()
    val probe = "SELECT graft_dot(array(1.5D, 2.0D), array(2.0D, 0.5D))"
    intercept[AnalysisException](s.sql(probe).collect())
    GraftSession.attach(s)
    val first = registered(s)
    assert(first.forall(_.isDefined))
    assert(s.sql(probe).head().getDouble(0) == 4.0)
    GraftSession.attach(s)
    registered(s).zip(first).foreach { case (again, once) => assert(again.get eq once.get) }
  }

  test("SparkEntry.queries resolves graft functions on a session built without them") {
    val s = sessionWithoutGraftFunctions()
    // the query body itself does not register: the entry point does
    intercept[AnalysisException](graft.queries.Queries.all("x7_topk_agg")(s, sf))
    val rows = SparkEntry.queries("x7_topk_agg")(s, sf).collect()
    assert(rows.nonEmpty)
    assert(registered(s).forall(_.isDefined))
  }
}

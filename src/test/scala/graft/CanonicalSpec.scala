package graft

import graft.functions.Canonical
import org.apache.spark.sql.functions._

/** Canonical-hash fidelity (SURVEY.md §7.5 risk 1): the digest must behave
  * like lodash isEqual minus IGNORED_PROPS (reference cache.js:83-85) —
  * key-order-insensitive, content-sensitive.
  */
class CanonicalSpec extends SparkSpec {
  import spark.implicits._

  private def hashOf(m: Map[String, String]): String =
    Seq(m).toDF("attrs").select(Canonical.canonicalHash(col("attrs")).as("h"))
      .head().getString(0)

  test("hash is insensitive to key insertion order (seeded property check)") {
    val rnd = new scala.util.Random(42)
    (1 to 25).foreach { _ =>
      val m = (1 to (1 + rnd.nextInt(8))).map(_ =>
        rnd.alphanumeric.take(1 + rnd.nextInt(10)).mkString ->
          rnd.alphanumeric.take(rnd.nextInt(12)).mkString).toMap
      val shuffled = rnd.shuffle(m.toList).reverse.toMap
      assert(hashOf(m) == hashOf(shuffled))
    }
  }

  test("hash is sensitive to content") {
    assert(hashOf(Map("a" -> "1", "b" -> "2")) != hashOf(Map("a" -> "1", "b" -> "3")))
    assert(hashOf(Map("a" -> "1")) != hashOf(Map("a" -> "1", "b" -> "")))
  }

  test("hashExcept strips ignored props (cache.js:17,53,84)") {
    val df = Seq(
      Map("x" -> "1", "updatedOnMs" -> "100"),
      Map("x" -> "1", "updatedOnMs" -> "999")).toDF("attrs")
    val hashes = df.select(Canonical.canonicalHashExcept(col("attrs"), Seq("updatedOnMs")))
      .collect().map(_.getString(0))
    assert(hashes(0) == hashes(1))
  }

  test("coalesceNonEmpty treats empty string as falsy (E3 #with semantics)") {
    val df = Seq(("", "fb"), ("v", "fb"), (null, "fb")).toDF("a", "b")
    val out = df.select(Canonical.coalesceNonEmpty(col("a"), col("b"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("fb", "v", "fb"))
  }
}

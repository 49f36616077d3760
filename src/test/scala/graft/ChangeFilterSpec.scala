package graft

import graft.cdc.ChangeFilter
import graft.functions.Canonical
import graft.model.Model
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDC matrix, 1:1 with the reference's cache tests
  * (test/cache.test.js:84-96 via cache.js:69-85, FIXTURES.md A2):
  * unchanged-content / changed / identical / new / missing-id.
  */
class ChangeFilterSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(rows: Seq[(String, Map[String, String])]) =
    rows.map { case (id, attrs) => (id, attrs.get("updatedOnMs").map(_.toLong), attrs) }
      .toDF("id", Model.UpdatedOnMs, "attrs")

  private def stateOf(rows: Seq[(String, Map[String, String])]) =
    batchDf(rows).select(col("id"), lit(9999999L).as("ttl"),
      to_json(col("attrs")).as("entityJson"),
      Canonical.canonicalHashExcept(col("attrs"), Model.IgnoredProps).as("entityHash"))

  private def changed(batch: DataFrame, state: DataFrame) =
    ChangeFilter.newOrUpdated(ChangeFilter.withContentColumns(batch), state)

  test("CDC matrix: only-updatedOnMs-changed suppressed, content-changed and new emitted") {
    val state = stateOf(Seq(
      "1" -> Map("id" -> "1", "x" -> "11", "updatedOnMs" -> "10"),
      "2" -> Map("id" -> "2", "x" -> "12", "updatedOnMs" -> "20"),
      "3" -> Map("id" -> "3", "x" -> "13", "updatedOnMs" -> "30")))
    val batch = batchDf(Seq(
      "1" -> Map("id" -> "1", "x" -> "11", "updatedOnMs" -> "11"), // only ts changed -> suppressed
      "2" -> Map("id" -> "2", "x" -> "24", "updatedOnMs" -> "21"), // content changed -> emitted
      "3" -> Map("id" -> "3", "x" -> "13", "updatedOnMs" -> "30"), // identical       -> suppressed
      "4" -> Map("id" -> "4", "x" -> "14", "updatedOnMs" -> "40"))) // new            -> emitted
    val out = changed(batch, state).select("id")
      .as[String].collect().sorted
    assert(out.toSeq == Seq("2", "4"))
  }

  test("missing id is dropped (cache.js:71-74)") {
    val batch = Seq(
      (null.asInstanceOf[String], Some(1L), Map("x" -> "no-id")),
      ("5", Some(2L), Map("id" -> "5", "x" -> "15"))).toDF("id", Model.UpdatedOnMs, "attrs")
    val state = stateOf(Nil)
    val out = changed(batch, state).select("id").as[String].collect()
    assert(out.toSeq == Seq("5"))
  }

  test("key order does not defeat change detection") {
    val state = stateOf(Seq("1" -> Map("a" -> "1", "b" -> "2")))
    // same content, different construction order
    val batch = batchDf(Seq("1" -> Map("b" -> "2", "a" -> "1")))
    assert(changed(batch, state).count() == 0)
  }

  test("content columns: stored entityJson is the key-sorted entries without updatedOnMs, entityHash its SHA-256") {
    val out = ChangeFilter.withContentColumns(batchDf(Seq(
      "1" -> Map("x" -> "2", "id" -> "1", "updatedOnMs" -> "7"))))
      .select("entityJson", "entityHash").as[(String, String)].collect().toSeq
    val json = """[{"key":"id","value":"1"},{"key":"x","value":"2"}]"""
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(json.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out == Seq((json, sha)))
  }
}

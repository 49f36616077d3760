package graft

import graft.model.EntityType
import graft.sink.HttpBatchSink
import graft.source.{EntityApiSource, Json}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

object SourceSinkSpec {
  val bodies = new ConcurrentLinkedQueue[String]()
}

/** Envelope parsing (S1/S2), page->DataFrame normalization, and sink batch
  * math (K1: ceil(n/max) bodies, skip-empty, targetBody.hbs join).
  */
class SourceSinkSpec extends SparkSpec {
  import spark.implicits._
  import SourceSinkSpec._

  test("envelope split handles nested strings/braces and partialResults") {
    val body =
      """{"items": [{"id": "a{b", "s": "{Code: 80,Name: stopped}", "n": 1}, {"id": "c\"d", "n": 2}], "partialResults": true}"""
    val (items, partial) = Json.splitEnvelope(body)
    assert(partial && items.size == 2)
    assert(items.head.contains("a{b"))
    val (none, p2) = Json.splitEnvelope("""{"items": [], "partialResults": false}""")
    assert(none.isEmpty && !p2)
  }

  test("envelope flag scoping: item fields named partialResults do not force pagination") {
    // the envelope says false; an ITEM carries partialResults:true
    val body =
      """{"items": [{"id": "x", "partialResults": true}], "partialResults": false}"""
    val (items, partial) = Json.splitEnvelope(body)
    assert(items.size == 1 && !partial)
    // non-array items value: no items, no crash, flag still read
    val (none, p) = Json.splitEnvelope("""{"items": null, "partialResults": true}""")
    assert(none.isEmpty && p)
    // '[' appearing later in the body must not be misparsed as the item list
    val (none2, _) = Json.splitEnvelope("""{"items": null, "other": [1, 2]}""")
    assert(none2.isEmpty)
  }

  test("a page with no id column anywhere maps to null ids (F3 drop), not an analysis error") {
    import graft.source.EntityApiSource
    import graft.model.EntityType
    val page = EntityApiSource.Page(
      Seq("""{"color": "red", "updatedOnMs": 5}""", """{"color": "blue"}"""), partialResults = false)
    val df = EntityApiSource.pageToDf(spark, page, EntityType("t", "uid"))
    assert(df.count() == 2)
    assert(graft.cdc.ChangeFilter.dropMissingId(df, "id").count() == 0)
  }

  test("parseEntity renders each value alone: nulls drop, numbers normalize, strings pass") {
    val (id, updated, m) = EntityApiSource.parseEntity(
      """{"uid": "u1", "s": "1.50", "d": 1.50, "i": 2, "big": 12345678901234567890, "t": true, "z": null,
        |"e": 1.5e9, "updatedOnMs": 7}""".stripMargin, "uid")
    assert(id.contains("u1") && m("uid") == "u1")
    assert(m("s") == "1.50")  // STRING "1.50" stays verbatim
    assert(m("d") == "1.5")   // NUMBER 1.50 renders through Double.toString
    assert(m("i") == "2")     // integral stays integral (no ".0")
    assert(m("big") == "12345678901234567890") // beyond Long: digits kept
    assert(m("t") == "true")
    assert(!m.contains("z"))  // JSON null drops its key
    assert(m("e") == "1.5E9") // exponent renders like Double.toString
    // updatedOnMs leaves attrs; it is numberToLong of a number or a string
    assert(updated.contains(7L) && !m.contains("updatedOnMs"))
    def ts(v: String) = EntityApiSource.parseEntity(s"""{"uid": "u", "updatedOnMs": $v}""", "uid")._2
    assert(ts("1.5e9").contains(1500000000L) && ts("\"100\"").contains(100L))
    assert(ts("\"abc\"").isEmpty && ts("1.5").isEmpty && ts("true").isEmpty && ts("null").isEmpty)
    // an item that is not a JSON object has no id (F3 drops it)
    assert(EntityApiSource.parseEntity("""{"uid": "x" "n": 1}""", "uid") == ((None, None, Map.empty)))
  }

  test("header templates fail fast at construction: malformed or unset env refs") {
    import graft.template.TemplateCompiler
    val env = Map("TOKEN" -> "abc")
    // valid: resolvable ref and plain literal pass
    TemplateCompiler.validateHeaderTemplates(
      Map("Authorization" -> "Bearer {{env.TOKEN}}", "Accept" -> "application/json"), env)
    // unset env var: error names the header and the var
    val missing = intercept[IllegalArgumentException] {
      TemplateCompiler.validateHeaderTemplates(Map("Authorization" -> "Bearer {{env.NOPE}}"), env)
    }
    assert(missing.getMessage.contains("Authorization") && missing.getMessage.contains("NOPE"))
    // malformed template: unbalanced mustache is a construction error, not a send-time one
    val malformed = intercept[IllegalArgumentException] {
      TemplateCompiler.validateHeaderTemplates(Map("X-Bad" -> "oops {{env.TOKEN"), env)
    }
    assert(malformed.getMessage.contains("X-Bad"))
    // both transports validate at construction
    intercept[IllegalArgumentException] {
      HttpBatchSink.httpSender("http://x", "PUT",
        Map("Authorization" -> "Bearer {{env.NOPE}}"), env = () => env)
    }
    intercept[IllegalArgumentException] {
      EntityApiSource.httpFetcher(Map("Authorization" -> "Bearer {{env.NOPE}}"), env = () => env)
    }
  }

  test("property: pageToDf agrees with the per-page spark.read.json reading when each key keeps one JSON kind") {
    // reference: the former pageToDf (per-page schema inference, string
    // cast, nulls dropped), which renders every value the same way as the
    // one rendering rule when no key mixes JSON kinds on a page
    def readJsonPage(items: Seq[String], idField: String) = {
      import org.apache.spark.sql.functions._
      val raw = spark.read.json(spark.createDataset(items))
      val attrCols = raw.columns.filterNot(_ == "updatedOnMs")
      val attrs = map(attrCols.flatMap(c => Seq(lit(c), col(s"`$c`").cast("string"))): _*)
      def orNull(c: String, t: String) = if (raw.columns.contains(c)) col(s"`$c`").cast(t) else lit(null).cast(t)
      raw.select(orNull(idField, "string"), orNull("updatedOnMs", "long"),
        map_filter(attrs, (_, v) => v.isNotNull))
    }
    // deterministic generator (fixed seed): keys shared across a page's
    // items, each key with one kind (integer, exponent, decimal, boolean,
    // string with escapes/unicode), values sometimes null or absent
    val rnd = new scala.util.Random(42)
    val stringAlphabet = "abcXYZ 09_\"\\\n\té√"
    def jsonEscape(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def genValue(kind: Int): String = kind match {
      case 0 => rnd.between(-1000000L, 1000000L).toString
      case 1 => s"${rnd.between(1, 99)}.${rnd.between(0, 99)}e${rnd.between(-9, 9)}"
      case 2 => s"-${rnd.between(0, 99)}.${rnd.between(1, 99)}"
      case 3 => rnd.nextBoolean().toString
      case _ => "\"" + jsonEscape((0 until rnd.between(0, 12))
        .map(_ => stringAlphabet(rnd.nextInt(stringAlphabet.length))).mkString) + "\""
    }
    (0 until 30).foreach { p =>
      val kinds = (0 until rnd.between(1, 7)).map(k => s"k$k" -> rnd.nextInt(5))
      val items = (0 until rnd.between(1, 7)).map { i =>
        val fields = kinds.filter(_ => rnd.nextInt(4) > 0).map { case (k, kind) =>
          s""""$k": ${if (rnd.nextInt(10) == 0) "null" else genValue(kind)}"""
        }
        val id = if (rnd.nextInt(10) == 0) Nil else Seq(s""""uid": "u${p}_$i"""")
        (id ++ fields :+ s""""updatedOnMs": ${rnd.between(1L, 1000000L)}""").mkString("{", ", ", "}")
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Option[String], Option[Long], Map[String, String])].collect().toSeq.sortBy(_.toString)
      val got = rows(EntityApiSource.pageToDf(spark, EntityApiSource.Page(items, partialResults = false),
        EntityType("t", "uid")))
      assert(got == rows(readJsonPage(items, "uid")), s"page $p: ${items.mkString(" ")}")
    }
  }

  test("numberToLong: integer, decimal-whole, and exponent forms; rejects fractional") {
    assert(Json.numberToLong("1705276800000").contains(1705276800000L))
    assert(Json.numberToLong("1.5e9").contains(1500000000L))
    assert(Json.numberToLong("1.5E12").contains(1500000000000L))
    assert(Json.numberToLong("-2e3").contains(-2000L))
    assert(Json.numberToLong("1.5").isEmpty)   // not a whole ms value
    assert(Json.numberToLong("1e60").isEmpty)  // beyond exact double range
    assert(Json.numberToLong("abc").isEmpty)
  }

  test("parseEntity: exponent numbers parse; nested values render as compact JSON text") {
    val (_, _, m) = EntityApiSource.parseEntity(
      """{"a": 1.5e9, "b": -2E-3, "neg": -7, "s": "x\"y", "t": true, "z": null,
        |"nested": {"inner": "HOISTED?", "deep": {"k": 1}}, "arr": [1, {"inArr": "no"}],
        |"after": "kept"}""".stripMargin, "id")
    assert(m("a") == "1.5E9" && m("b") == "-0.002" && m("neg") == "-7")
    assert(m("s") == "x\"y" && m("t") == "true" && !m.contains("z"))
    assert(m("after") == "kept")
    // nested object/array pairs are NOT hoisted to the top level ...
    assert(!m.contains("inner") && !m.contains("k") && !m.contains("inArr"))
    // ... but kept whole, so a change inside them is still a change
    assert(m("nested") == """{"inner":"HOISTED?","deep":{"k":1}}""")
    assert(m("arr") == """[1,{"inArr":"no"}]""")
  }

  test("type catalog parse (S1, app.js:71-74)") {
    val types = EntityApiSource.fetchEntityTypes(
      _ => """[{"name": "awsEc2", "uniqueIdField": "AWSUniqueId"}, {"name": "gce", "uniqueIdField": "gcp_id"}]""",
      "stub://types")
    assert(types == Seq(EntityType("awsEc2", "AWSUniqueId"), EntityType("gce", "gcp_id")))
  }

  test("a malformed type catalog or config file fails with an error that names it") {
    val catalog = intercept[IllegalArgumentException] {
      EntityApiSource.fetchEntityTypes(_ => """[{"name": "a" "uniqueIdField": "b"}]""", "stub://types")
    }
    assert(catalog.getMessage.contains("type catalog stub://types"), catalog.getMessage)
    val notArray = intercept[IllegalArgumentException] {
      EntityApiSource.fetchEntityTypes(_ => """{"name": "a"}""", "stub://types")
    }
    assert(notArray.getMessage.contains("type catalog stub://types"), notArray.getMessage)
    val config = intercept[IllegalArgumentException] {
      graft.pipeline.EtlConfig.fromJson("""{"sfx": {"server": "http://x",}}""")
    }
    assert(config.getMessage.contains("malformed JSON in config"), config.getMessage)
  }

  test("pageToDf normalizes to (id, updatedOnMs, attrs) with string-cast values") {
    val page = EntityApiSource.Page(Seq(
      """{"AWSUniqueId": "u1", "aws_region": "us-west-2", "n": 7, "updatedOnMs": 1582304819692}""",
      """{"aws_region": "eu-1", "updatedOnMs": 5}"""), partialResults = false)
    val df = EntityApiSource.pageToDf(spark, page, EntityType("awsEc2", "AWSUniqueId"))
    val rows = df.select("id", "updatedOnMs").as[(Option[String], Option[Long])].collect().toSet
    assert(rows == Set((Some("u1"), Some(1582304819692L)), (None, Some(5L))))
    val attrs = df.where($"id" === "u1").select("attrs").as[Map[String, String]].head()
    assert(attrs("aws_region") == "us-west-2" && attrs("n") == "7")
  }

  test("sink: ceil(n/max) batches per partition, [a,b] body shape, empty skipped") {
    bodies.clear()
    val docs = (1 to 5).map(i => s"""{"i":$i}""").toDF("doc").coalesce(1)
    val sent = HttpBatchSink.send(docs, maxBatchSize = 2, b => SourceSinkSpec.bodies.add(b))
    assert(sent == 3) // ceil(5/2)
    val bs = bodies.asScala.toSeq
    assert(bs.forall(b => b.startsWith("[{") && b.endsWith("}]")))
    assert(bs.map(b => b.count(_ == '{')).sum == 5)

    bodies.clear()
    val none = HttpBatchSink.send(docs.limit(0), 2, b => SourceSinkSpec.bodies.add(b))
    assert(none == 0 && bodies.isEmpty) // skip-empty, app.js:89-91
  }
}

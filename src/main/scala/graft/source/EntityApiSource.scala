package graft.source

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model.{EntityType, Model}
import graft.sink.HttpBatchSink
import graft.template.TemplateCompiler
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Incremental entity source (SURVEY.md §2 rows S1-S3, §2.10 W1/W4).
  *
  * The reference pulls pages from a REST API with the checkpoint injected
  * into a URL template (`updatedFromMs={{updatedFromMs}}`, reference
  * config.json:9, app.js:76-82) and loops while `partialResults`
  * (app.js:48-59). That hand-built pushdown stays: the predicate travels in
  * the URL, so Spark never scans rows older than the checkpoint.
  *
  * The fetch itself is a driver-side page loop (pages are small and strictly
  * sequential in the reference — each page's checkpoint depends on the
  * previous commit, so there is nothing to parallelize *across* pages);
  * parallelism comes from Spark once a page lands as a DataFrame. Every
  * item becomes (id, updatedOnMs, attrs) through [[parseEntity]], the one
  * parser of both this loop and the `graft-entities` reader: each value
  * renders from the value alone ([[Json.render]]), never from the other
  * items of its page, so an unchanged entity keeps its content hash
  * whatever page it arrives on (the reference compares an entity with its
  * own cached copy, cache.js:69-85).
  */
object EntityApiSource {

  /** One fetched page: raw item JSON strings + the pagination flag
    * (envelope per reference README.md:206-254).
    */
  final case class Page(items: Seq[String], partialResults: Boolean)

  /** Pluggable transport: (url) => response body. Tests stub this; prod uses
    * [[httpFetcher]].
    */
  type Fetcher = String => String

  /** Header VALUES are templates re-rendered against the live env on every
    * request (reference http.js:22-28 renders `{{env.X}}` per request, so a
    * token rotated mid-run takes effect on the next page fetch). `env` is
    * read per request; injectable for tests. Requests go through the JVM's
    * one client, shared with the sink ([[HttpBatchSink.httpTransport]]).
    */
  def httpFetcher(headers: Map[String, String], env: () => Map[String, String] = () => sys.env): Fetcher = {
    val request = HttpBatchSink.httpTransport("GET", headers, env)
    url => request(url, None)
  }

  /** GET the type catalog `{name, uniqueIdField}[]` (reference app.js:71-74).
    * A body that is not a JSON array fails, naming the catalog URL.
    */
  def fetchEntityTypes(fetch: Fetcher, typesUrl: String): Seq[EntityType] = {
    val catalog = Json.read(fetch(typesUrl), s"type catalog $typesUrl")
    require(catalog.isArray, s"type catalog $typesUrl: expected a JSON array")
    catalog.asScala.toSeq.flatMap { t =>
      for (n <- Json.render(t.path("name")); id <- Json.render(t.path("uniqueIdField")))
        yield EntityType(n, id)
    }
  }

  /** CLI-style type selection: no requested names = all (reference
    * app.js:62-69, F1).
    */
  def selectTypes(all: Seq[EntityType], requested: Seq[String]): Seq[EntityType] =
    if (requested.isEmpty) all else all.filter(t => requested.contains(t.name))

  /** Fetch one page for a type from the templated URL (reference
    * app.js:76-82; template config.json:9).
    */
  def fetchPage(fetch: Fetcher, urlTemplate: String, entityType: EntityType, checkpoint: Long): Page = {
    val url = TemplateCompiler.renderString(urlTemplate,
      Map("type" -> entityType.name, "updatedFromMs" -> checkpoint.toString))
    val body = fetch(url)
    val (items, partial) = Json.splitEnvelope(body)
    Page(items, partial)
  }

  /** The do-while pagination loop (reference app.js:48-59) of both the ETL
    * loop and the `graft-entities` reader: `step` turns a page and the
    * checkpoint it was fetched at into the next checkpoint, while
    * `partialResults` and under `maxPages` pages. Returns the last checkpoint.
    */
  def walk(fetch: Fetcher, urlTemplate: String, entityType: EntityType, from: Long,
           maxPages: Int = Int.MaxValue)(step: (Page, Long) => Long): Long = {
    var checkpoint = from
    var partial = true
    var pages = 0
    while (partial && pages < maxPages) {
      val page = fetchPage(fetch, urlTemplate, entityType, checkpoint)
      checkpoint = step(page, checkpoint)
      partial = page.partialResults
      pages += 1
    }
    checkpoint
  }

  /** A parsed item: (id, updatedOnMs, attrs). */
  type Entity = (Option[String], Option[Long], Map[String, String])

  /** One item as (id, updatedOnMs, attrs):
    *  - `attrs` holds every key but `updatedOnMs`, each value rendered by
    *    [[Json.render]] (a JSON null drops its key);
    *  - `id` is the rendered `idField` value, None when absent or null;
    *  - `updatedOnMs` is [[Json.numberToLong]] of a number or a string, None
    *    otherwise; such an item does not move the checkpoint (a page with
    *    none logs the frozen-checkpoint warning).
    *
    * An item that is not a JSON object gets no id, so the missing-id filter
    * drops it and the page counts it as dropped (F3).
    */
  def parseEntity(item: String, idField: String): Entity =
    scala.util.Try(Json.read(item, "entity item")).toOption.filter(_.isObject) match {
      case None => (None, None, Map.empty)
      case Some(obj) =>
        val rendered = obj.properties.asScala.iterator
          .flatMap(e => Json.render(e.getValue).map(e.getKey -> _)).toMap
        val updated = Some(obj.path(Model.UpdatedOnMs)).filter(v => v.isNumber || v.isTextual)
          .flatMap(v => Json.numberToLong(v.asText))
        (rendered.get(idField), updated, rendered - Model.UpdatedOnMs)
    }

  /** A page as the canonical batch DataFrame (Model.entityBatchSchema). The
    * items are parsed by [[parseEntity]] inside the tasks of whichever job
    * first reads the frame; building it runs no Spark job.
    */
  def pageToDf(spark: SparkSession, page: Page, entityType: EntityType): DataFrame = {
    import spark.implicits._
    val idField = entityType.uniqueIdField
    spark.createDataset(page.items).map(parseEntity(_, idField))
      .toDF(Model.entityBatchSchema.fieldNames.toSeq: _*)
  }
}

/** The one JSON reader: Jackson's tree model (the parser Spark itself ships)
  * for entity items, the config file and the type catalog, plus a tolerant
  * envelope splitter, so one malformed item drops alone instead of failing
  * its page.
  *
  * One rendering rule turns a JSON value into an attribute string, from the
  * value alone: a string is its text; an integral number its decimal
  * digits; any other number `java.lang.Double.toString`; a boolean `true`
  * or `false`; an object or array its compact JSON text (a change inside it
  * is still a change); a null has no rendering and drops its key.
  */
private[graft] object Json {

  private val mapper = new ObjectMapper()

  /** Parse `text` as one JSON document; malformed input fails naming `what`. */
  def read(text: String, what: String): JsonNode =
    try mapper.readTree(text)
    catch {
      case e: JsonProcessingException =>
        throw new IllegalArgumentException(s"malformed JSON in $what: ${e.getOriginalMessage}", e)
    }

  /** A value under the one rendering rule; None for a null or absent value. */
  def render(v: JsonNode): Option[String] =
    if (v.isNull || v.isMissingNode) None
    else if (v.isTextual) Some(v.textValue)
    else if (v.isIntegralNumber) Some(v.asText)
    else if (v.isNumber) Some(java.lang.Double.toString(v.doubleValue))
    else if (v.isBoolean) Some(v.booleanValue.toString)
    else Some(v.toString)

  /** Split `{"items":[{...},{...}],"partialResults":true}` into raw item
    * strings + flag, by brace matching (string-aware). The flag is matched
    * against the ENVELOPE only (body with the items span excised): an item
    * FIELD literally named partialResults must not force extra pagination
    * rounds. A present-but-non-array `items` value yields no items instead
    * of scanning from index -1 (or whatever '[' appears later in the body).
    */
  def splitEnvelope(body: String): (Seq[String], Boolean) = {
    def partialIn(s: String) = """"partialResults"\s*:\s*true""".r.findFirstIn(s).isDefined
    val itemsIdx = body.indexOf("\"items\"")
    if (itemsIdx < 0) (Seq.empty, partialIn(body))
    else {
      val start = body.indexOf('[', itemsIdx)
      if (start < 0) (Seq.empty, partialIn(body))
      else {
        val end = spanEnd(body, start)
        val envelope = body.substring(0, start) +
          (if (end + 1 <= body.length) body.substring(math.min(end + 1, body.length)) else "")
        (topLevelObjects(body, start), partialIn(envelope))
      }
    }
  }

  /** Index of the bracket closing the composite value opening at `start`
    * (string-aware); `s.length - 1` when unterminated.
    */
  private def spanEnd(s: String, start: Int): Int = {
    var depth = 0; var inStr = false; var esc = false; var i = start
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '[' | '{' => depth += 1
        case ']' | '}' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    s.length - 1
  }

  /** Extract top-level `{...}` object substrings of the array starting at
    * `start` (index of '[').
    */
  private def topLevelObjects(s: String, start: Int): Seq[String] = {
    val out = Vector.newBuilder[String]
    var depth = 0; var inStr = false; var esc = false; var objStart = -1; var i = start
    var arrDepth = 0
    var done = false
    while (i < s.length && !done) {
      val c = s.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => if (depth == 0) objStart = i; depth += 1
        case '}' => depth -= 1; if (depth == 0) { out += s.substring(objStart, i + 1) }
        case '[' => arrDepth += 1
        case ']' => arrDepth -= 1; if (arrDepth == 0 && depth == 0) done = true
        case _ =>
      }
      i += 1
    }
    out.result()
  }

  /** Parse a JSON number literal as an epoch-millis long: integer fast path,
    * decimal/exponent forms (`1.5e9`) via double — exact for any whole value
    * below 2^53, which covers epoch millis for the next ~280k years. A JS
    * reference treats `1.5e9` as a plain number (cache.js:100-108 compares
    * numerically), so the checkpoint math must accept every JSON number
    * form, not just integer literals.
    */
  def numberToLong(s: String): Option[Long] =
    s.toLongOption.orElse(s.toDoubleOption.collect {
      case d if d.isWhole && math.abs(d) <= (1L << 53) => d.toLong
    })
}

package graft.pipeline

import com.fasterxml.jackson.databind.JsonNode
import graft.sink.HttpBatchSink
import graft.source.{EntityApiSource, Json}
import graft.state.EntityStateStore
import graft.template.TemplateCompiler
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Typed view of the reference's `config.json` (reference config.json:1-23,
  * loaded at app.js:11) — the last cosmetic parity gap from round 3: every
  * knob of the pipeline is loadable from the same file shape a reference
  * deployment already has, instead of constructor args only.
  *
  * Shape (two levels, scalars + one headers map per endpoint):
  * {{{
  * { "sfx":    { "server", "headers": {..}, "entitiesTypesEndpoint", "entitiesEndpoint" },
  *   "target": { "method", "server", "headers": {..}, "entitiesEndpoint", "maxBatchSize" },
  *   "entitiesCacheTtlInHours": 8 }
  * }}}
  * Any other key is ignored, the reference's `logLevel` among them: log
  * levels come from the Spark session's logging setup.
  *
  * Header values keep their `{{env.X}}` templates verbatim — resolution
  * stays per-request in the transports (reference http.js:22-28), and
  * construction fails fast if a referenced var is unset at startup.
  */
final case class EtlConfig(
    sfxServer: String,
    sfxHeaders: Map[String, String],
    typesEndpoint: String,
    entitiesEndpoint: String,
    targetMethod: String,
    targetServer: String,
    targetHeaders: Map[String, String],
    targetEndpoint: String,
    maxBatchSize: Int,
    cacheTtlHours: Double) {

  def ttlMs: Long = (cacheTtlHours * 3600 * 1000).toLong
  def typesUrl: String = EtlConfig.resolveUrl(sfxServer, typesEndpoint)
  /** Still templated on {{type}}/{{updatedFromMs}} — rendered per fetch. */
  def entitiesUrlTemplate: String = EtlConfig.resolveUrl(sfxServer, entitiesEndpoint)

  /** Target URL for one type: `{{type}}` + `{{env.X}}` resolved now, like
    * the reference renders it once per type run (app.js:104).
    */
  def targetUrlFor(typeName: String, env: Map[String, String]): String =
    TemplateCompiler.renderWithEnv(
      EtlConfig.resolveUrl(targetServer, targetEndpoint), Map("type" -> typeName), env)
}

object EtlConfig {

  /** Mirror of the reference's `url.resolve(server, path)` (http.js:12) for
    * the config's shapes: an absolute `path` REPLACES the server's path
    * entirely (RFC 3986 / node url.resolve — `https://host/api` + `/x` is
    * `https://host/x`, not `https://host/api/x`), so a reference config
    * whose server value carries a base path resolves identically. Plain
    * string handling because endpoint templates contain `{{...}}`, which a
    * URI parser rejects.
    */
  private[pipeline] def resolveUrl(server: String, path: String): String =
    if (path.startsWith("/")) {
      val origin = "^[A-Za-z][A-Za-z0-9+.-]*://[^/]*".r.findFirstIn(server)
      origin.getOrElse(server.replaceAll("/+$", "")) + path
    }
    else if (server.endsWith("/")) server + path
    else server + "/" + path

  def load(path: java.nio.file.Path): EtlConfig =
    fromJson(java.nio.file.Files.readString(path))

  /** Absent keys take the reference defaults; malformed JSON fails, as the
    * reference's `JSON.parse` of config.json would.
    */
  def fromJson(text: String): EtlConfig = {
    val top = Json.read(text, "config")
    val (sfx, target) = (top.path("sfx"), top.path("target"))
    def opt(node: JsonNode, key: String) = Json.render(node.path(key))
    def str(node: JsonNode, key: String, default: String) = opt(node, key).getOrElse(default)
    def headers(endpoint: JsonNode) = endpoint.path("headers").properties.asScala
      .flatMap(e => Json.render(e.getValue).map(e.getKey -> _)).toMap
    EtlConfig(
      sfxServer = str(sfx, "server", ""),
      sfxHeaders = headers(sfx),
      typesEndpoint = str(sfx, "entitiesTypesEndpoint", "/v2/entities/types"),
      entitiesEndpoint = str(sfx, "entitiesEndpoint", ""),
      targetMethod = str(target, "method", "PUT"),
      targetServer = str(target, "server", ""),
      targetHeaders = headers(target),
      targetEndpoint = str(target, "entitiesEndpoint", ""),
      maxBatchSize = opt(target, "maxBatchSize").flatMap(Json.numberToLong).fold(10000)(_.toInt),
      cacheTtlHours = opt(top, "entitiesCacheTtlInHours").flatMap(_.toDoubleOption).getOrElse(8.0))
  }

  /** Wire a ready-to-run [[EntityEtlJob]] for one entity type from the
    * config — fetcher, sender, TTL and batch size all from the file, same
    * construction order as the reference's handleEntityType (app.js:44-60).
    * Types run serially in the reference; callers loop types and build one
    * job each (the target URL is type-templated). `env` serves every
    * `{{env.X}}`: request headers per request, the target URL and entity
    * templates once, here.
    */
  def buildJob(
      spark: SparkSession, store: EntityStateStore, cfg: EtlConfig,
      templates: Map[String, String], typeName: String,
      env: () => Map[String, String] = () => sys.env): EntityEtlJob = {
    val envNow = env()
    new EntityEtlJob(
      spark, store,
      fetch = EntityApiSource.httpFetcher(cfg.sfxHeaders, env = env),
      entitiesUrlTemplate = cfg.entitiesUrlTemplate,
      sender = HttpBatchSink.httpSender(
        cfg.targetUrlFor(typeName, envNow), cfg.targetMethod, cfg.targetHeaders, env = env),
      templates = templates,
      maxBatchSize = cfg.maxBatchSize,
      ttlMs = cfg.ttlMs,
      env = envNow)
  }
}

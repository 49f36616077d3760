package graft.template

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Compiles the reference's Handlebars-subset templates into a single
  * Catalyst `Column` producing the rendered document per row — templates stay
  * *data* (a user drops a file, no code change — reference README.md:161-171,
  * templates.js:15-28) while execution is fully codegen'd: one `concat`/
  * `when` expression tree per entity type, compiled once at plan time
  * (the reference recompiles URL templates per call, templates.js:36-40 — a
  * known inefficiency we do not replicate).
  *
  * Supported constructs — the complete scalar surface of the 20 shipped
  * templates (SURVEY.md §2.4, rows E1-E8):
  *   - `{{entity.x}}`            field access, missing/null -> "" (E1); no
  *                               HTML escaping (E2, a documented deviation:
  *                               the documents are JSON bodies)
  *   - `{{{entity.x}}}`          the same emit (E8)
  *   - `{{#with entity.x}}body{{else}}fallback{{/with}}`
  *                               coalesce-with-default; Handlebars treats ""
  *                               as falsy, so empty string takes the fallback
  *                               branch (E3 — `coalesce` alone would be
  *                               wrong, SURVEY.md §7.5 risk 2); `{{.}}` in
  *                               the body refers to the tested value
  *   - anything else             literal text (E4/E5 interpolation falls out
  *                               of literal+field concatenation)
  *   - `{{env.X}}`               environment substitution, resolved at
  *                               compile time from a provided map (E9)
  */
object TemplateCompiler {

  sealed trait Part
  final case class Lit(s: String) extends Part
  final case class Field(path: String) extends Part
  final case class With(path: String, body: Seq[Part], fallback: Seq[Part]) extends Part

  /** Resolve a template path to a Column. `entity.`-prefixed paths hit the
    * payload map; anything else is looked up in `env`.
    */
  type Resolver = String => Column

  /** Resolver for the canonical batch shape: payload in `attrs`
    * map<string,string>; missing key renders as "" (Handlebars default,
    * relied on by the reference — SURVEY.md §1.2).
    */
  def mapResolver(attrsCol: Column, env: Map[String, String] = Map.empty): Resolver = {
    case p if p.startsWith("entity.") => coalesce(element_at(attrsCol, p.stripPrefix("entity.")), lit(""))
    case p if p.startsWith("env.")    => lit(env.getOrElse(p.stripPrefix("env."), ""))
    case p                            => coalesce(element_at(attrsCol, p), lit(""))
  }

  /** Resolver over wide top-level columns (for relational inputs). */
  def columnResolver(env: Map[String, String] = Map.empty): Resolver = {
    case p if p.startsWith("entity.") => coalesce(col(p.stripPrefix("entity.")).cast("string"), lit(""))
    case p if p.startsWith("env.")    => lit(env.getOrElse(p.stripPrefix("env."), ""))
    case p                            => coalesce(col(p).cast("string"), lit(""))
  }

  /** Load every `*.hbs` in a directory into a name -> template-text map —
    * users add a transform by dropping a file, no code change (reference
    * templates.js:15-28, README.md:161-171). Compilation to Columns happens
    * once per type at plan build.
    */
  def loadTemplateDir(dir: java.nio.file.Path): Map[String, String] = {
    if (!java.nio.file.Files.isDirectory(dir)) Map.empty
    else {
      val stream = java.nio.file.Files.list(dir)
      try stream.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".hbs"))
        .map(p => p.getFileName.toString.stripSuffix(".hbs") -> java.nio.file.Files.readString(p))
        .toMap
      finally stream.close()
    }
  }

  // ---------------------------------------------------------------- parsing

  def parse(template: String): Seq[Part] = {
    val (parts, rest) = parseUntil(template, Set.empty)
    require(rest.isEmpty, s"unbalanced template near: ${rest.take(40)}")
    parts
  }

  /** Parse until one of `stops` ({{else}} / {{/with}}) or end of input.
    * Returns (parts, remaining-input-starting-at-the-stop-tag).
    */
  private def parseUntil(in: String, stops: Set[String]): (Seq[Part], String) = {
    val parts = Vector.newBuilder[Part]
    var s = in
    while (s.nonEmpty) {
      val i = s.indexOf("{{")
      if (i < 0) { parts += Lit(s); s = "" }
      else {
        if (i > 0) parts += Lit(s.substring(0, i))
        s = s.substring(i)
        if (s.startsWith("{{{")) {
          val end = s.indexOf("}}}")
          require(end > 0, s"unterminated raw stash: ${s.take(40)}")
          parts += Field(s.substring(3, end).trim)
          s = s.substring(end + 3)
        } else {
          val end = s.indexOf("}}")
          require(end > 0, s"unterminated stash: ${s.take(40)}")
          val tag = s.substring(2, end).trim
          if (stops.contains(tag)) return (parts.result(), s)
          if (tag.startsWith("#with")) {
            val path = tag.stripPrefix("#with").trim
            val afterOpen = s.substring(end + 2)
            val (body, atStop) = parseUntil(afterOpen, Set("else", "/with"))
            val (fb, afterAll) =
              if (tagAt(atStop) == "else") {
                val (f, atClose) = parseUntil(skipTag(atStop), Set("/with"))
                (f, skipTag(atClose))
              } else (Seq.empty[Part], skipTag(atStop))
            parts += With(path, body, fb)
            s = afterAll
          } else {
            // unsupported block helpers must FAIL, not lex as field lookups:
            // {{#if x}}SECRET{{/if}} would otherwise coalesce the helper
            // tags to "" and emit the body for EVERY row — silent
            // unconditional rendering of conditional content. #with is the
            // one block construct the reference templates use (E3).
            require(!tag.startsWith("#") && !tag.startsWith("/"),
              s"unsupported block helper '{{$tag}}' (only #with/else is implemented)")
            parts += Field(tag)
            s = s.substring(end + 2)
          }
        }
      }
    }
    (parts.result(), "")
  }

  private def tagAt(s: String): String = {
    require(s.startsWith("{{"), s"expected tag at: ${s.take(40)} (unclosed #with?)")
    s.substring(2, s.indexOf("}}")).trim
  }
  private def skipTag(s: String): String = s.substring(s.indexOf("}}") + 2)

  // -------------------------------------------------------------- compiling

  /** Compile a parsed template to one string-valued Column. */
  def compile(parts: Seq[Part], resolve: Resolver): Column = {
    def emit(p: Part, ctx: Option[Column]): Column = p match {
      case Lit(s) => lit(s)
      case Field(".") => ctx.getOrElse(lit(""))
      case Field(path) => resolve(path)
      case With(path, body, fb) =>
        val tested = resolve(path)
        val bodyC = concatAll(body.map(emit(_, Some(tested))))
        val fbC = concatAll(fb.map(emit(_, ctx)))
        // "" is falsy in Handlebars #with (E3)
        when(tested.isNotNull && tested =!= "", bodyC).otherwise(fbC)
    }
    concatAll(parts.map(emit(_, None)))
  }

  private def concatAll(cs: Seq[Column]): Column =
    if (cs.isEmpty) lit("") else if (cs.size == 1) cs.head else concat(cs: _*)

  /** One-shot: template text -> rendered-document Column. */
  def compileTemplate(template: String, resolve: Resolver): Column =
    compile(parse(template), resolve)

  /** Driver-side render for URL/header templating (E10): same parser, plain
    * string interpolation against a value map — no DataFrame involved.
    */
  def renderString(template: String, values: Map[String, String]): String = {
    def emit(p: Part, ctx: Option[String]): String = p match {
      case Lit(s)            => s
      case Field(".")        => ctx.getOrElse("")
      case Field(path)       => values.getOrElse(path, values.getOrElse(path.stripPrefix("entity."), ""))
      case With(path, b, fb) =>
        val v = values.getOrElse(path, values.getOrElse(path.stripPrefix("entity."), ""))
        if (v.nonEmpty) b.map(emit(_, Some(v))).mkString else fb.map(emit(_, ctx)).mkString
    }
    parse(template).map(emit(_, None)).mkString
  }

  /** [[renderString]] with live `{{env.X}}` resolution — the reference
    * renders headers against the CURRENT process env on every request
    * (http.js:22-28 via templates.js:36-40), so a token rotated mid-run is
    * picked up by the next request. Call per request with a fresh env map.
    */
  def renderWithEnv(template: String, values: Map[String, String],
                    env: Map[String, String]): String =
    renderString(template, values ++ env.map { case (k, v) => s"env.$k" -> v })

  /** Env var names a template references via `{{env.X}}` (including inside
    * `#with` bodies/fallbacks). Parsing throws on malformed mustaches, so
    * this doubles as construction-time template validation: transports call
    * it once per header and fail fast on an unresolvable reference instead
    * of rendering `Bearer ` and surfacing as a remote 401 at send time.
    */
  def envRefs(template: String): Seq[String] = {
    def collect(ps: Seq[Part]): Seq[String] = ps.flatMap {
      case Field(p) if p.startsWith("env.") => Seq(p.stripPrefix("env."))
      case With(p, b, fb) =>
        (if (p.startsWith("env.")) Seq(p.stripPrefix("env.")) else Nil) ++ collect(b) ++ collect(fb)
      case _ => Nil
    }
    collect(parse(template)).distinct
  }

  /** Fail-fast header validation: every header value must parse as a
    * template AND every `{{env.X}}` it references must be resolvable in
    * `env` NOW (construction time). Rotation stays supported — values are
    * still re-rendered per request — but a var that is absent at startup is
    * a config error, reported with the header name.
    */
  def validateHeaderTemplates(headers: Map[String, String], env: Map[String, String]): Unit =
    headers.foreach { case (name, tpl) =>
      val missing =
        try envRefs(tpl).filterNot(env.contains)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"header '$name': ${e.getMessage}")
        }
      require(missing.isEmpty,
        s"header '$name' references unset env var(s): ${missing.mkString(", ")}")
    }

  /** Render a targetBody-shaped batch template (reference templates.js:43,
    * app.js:106, templates/targetBody.hbs:1-3): literal text around
    * `{{#each entities}}`, with `{{{.}}}` / `{{.}}` emitting each rendered
    * document and `{{#unless @last}}sep{{/unless}}` between items. This is
    * the complete construct surface of the shipped targetBody template; a
    * user-edited wrapper of the same shape (different brackets, an envelope
    * object, a different separator) renders faithfully.
    */
  def renderBatchBody(template: String, entities: Seq[String]): String = {
    val EachOpen = "{{#each entities}}"
    val EachClose = "{{/each}}"
    val start = template.indexOf(EachOpen)
    if (start < 0) renderString(template, Map.empty)
    else {
      val end = template.indexOf(EachClose, start)
      require(end >= 0, "unterminated {{#each}} in targetBody template")
      val body = template.substring(start + EachOpen.length, end)
      val sb = new StringBuilder(template.substring(0, start))
      val n = entities.size
      entities.iterator.zipWithIndex.foreach { case (e, i) =>
        sb.append(renderEachItem(body, e, last = i == n - 1))
      }
      sb.append(template.substring(end + EachClose.length)).toString
    }
  }

  private def renderEachItem(body: String, value: String, last: Boolean): String = {
    val UnlessOpen = "{{#unless @last}}"
    val UnlessClose = "{{/unless}}"
    def fill(s: String): String = s.replace("{{{.}}}", value).replace("{{.}}", value)
    val sb = new StringBuilder
    var s = body
    while (s.nonEmpty) {
      val u = s.indexOf(UnlessOpen)
      if (u < 0) { sb.append(fill(s)); s = "" }
      else {
        sb.append(fill(s.substring(0, u)))
        val rest = s.substring(u)
        val c = rest.indexOf(UnlessClose)
        require(c >= 0, "unterminated {{#unless}} in targetBody template")
        if (!last) sb.append(fill(rest.substring(UnlessOpen.length, c)))
        s = rest.substring(c + UnlessClose.length)
      }
    }
    sb.toString
  }
}

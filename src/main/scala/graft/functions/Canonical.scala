package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical-content hashing and small scalar helpers.
  *
  * The reference decides "has this entity changed?" with lodash `isEqual`
  * over the entity object minus `updatedOnMs` (reference cache.js:83-85,
  * IGNORED_PROPS cache.js:17). `isEqual` is key-order-insensitive, so the
  * distributed replacement must canonicalize key order before digesting
  * (SURVEY.md §2 row F2, §7.5 risk 1). Everything here is Catalyst
  * built-ins — stays inside whole-stage codegen, no UDFs.
  */
object Canonical {

  /** Order-insensitive digest of a `map<string,string>` payload.
    *
    * `map_entries` -> `array_sort` sorts the entry structs by key (struct
    * ordering compares fields left-to-right), then `to_json` gives a stable
    * serialization independent of insertion order; `sha2` digests it.
    * Null map hashes to null (kept: a null payload is "no content").
    */
  def canonicalHash(attrs: Column): Column =
    sha2(canonicalJson(attrs), 256)

  /** The serialization [[canonicalHash]] digests: the key-sorted entries
    * as a JSON array of `{key, value}` structs.
    */
  def canonicalJson(attrs: Column): Column =
    to_json(array_sort(map_entries(attrs)))

  /** [[canonicalJson]] without the ignored keys (e.g. updatedOnMs) — the
    * cached copy of reference cache.js:53.
    */
  def canonicalJsonExcept(attrs: Column, ignored: Seq[String]): Column =
    canonicalJson(map_filter(attrs, (k, _) => !k.isInCollection(ignored.map(lit(_)))))

  /** Digest of [[canonicalJsonExcept]] — mirrors reference cache.js:53,84. */
  def canonicalHashExcept(attrs: Column, ignored: Seq[String]): Column =
    sha2(canonicalJsonExcept(attrs, ignored), 256)

  /** Canonical digest over explicit columns: builds a key-sorted map first so
    * callers can't get order-dependent results by reordering the projection.
    */
  def canonicalHashCols(cols: (String, Column)*): Column =
    canonicalHash(map(cols.sortBy(_._1).flatMap { case (k, c) => Seq(lit(k), c.cast(StringType)) }: _*))

  /** Handlebars HTML-escaping of the default double-stash output
    * (`& < > " ' ` =` — reference templates escape by default; SURVEY.md
    * §2.4 row E2). Chained regexp_replace keeps it codegen-friendly.
    * Off by default in the template compiler (documented deviation), exposed
    * for faithful mode.
    */
  def htmlEscape(c: Column): Column = {
    val repl: Seq[(String, String)] = Seq(
      "&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;",
      "\"" -> "&quot;", "'" -> "&#x27;", "`" -> "&#x60;", "=" -> "&#x3D;")
    repl.foldLeft(c) { case (acc, (from, to)) =>
      regexp_replace(acc, java.util.regex.Pattern.quote(from), to)
    }
  }

  /** Handlebars `#with`-style coalesce: empty string is falsy, so plain
    * coalesce is wrong (SURVEY.md §7.5 risk 2). `nullif(col,'')` first.
    */
  def coalesceNonEmpty(c: Column, fallback: Column): Column =
    coalesce(nullif(c, lit("")), fallback)

  /** Epoch millis from any timestamp flavor (NTZ parquet columns read under a
    * UTC session included).
    */
  def tsMillis(c: Column): Column = unix_millis(c.cast(TimestampType))
}

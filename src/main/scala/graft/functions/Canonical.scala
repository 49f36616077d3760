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

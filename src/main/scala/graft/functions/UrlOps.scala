package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL analysis for web-corpus curation: host extraction and
  * canonicalization, the keys a crawl pipeline dedups and groups by
  * (per-domain mixing via [[graft.operators.Sampling.mixToWeights]],
  * URL-level exact dedup before any content pass).
  *
  * Engine-portable by construction: every builder is a pure
  * `org.apache.spark.sql.functions` composition — codegen'd, no UDF in
  * the hot path — whose semantics a SQL engine reproduces with regexes
  * and list functions (q66's DuckDB oracle replays normalization
  * bit-for-bit). Inputs that do not look like absolute URLs
  * (`scheme://...`) yield null from every builder here: at corpus scale
  * a malformed URL column is data, not an error, and null is the
  * engine's uniform "unparseable" convention (same as
  * [[graft.multimodal.Multimodal.ImageCodec]] stats).
  *
  * RFC 3986 is the reference for the component grammar (scheme,
  * authority = userinfo@host:port, path, query, fragment); this module
  * implements the subset crawl URLs exercise — it does not resolve
  * relative references, IDN, or percent-encoding equivalence (a
  * percent-variant URL is a different string and a different key, the
  * standard trade in large-scale URL dedup).
  */
object UrlOps {

  /** Query-parameter names dropped by [[normalize]]: click/campaign
    * trackers that fragment otherwise-identical URLs into unique keys.
    * `utm_` is matched as a prefix; the rest exactly.
    */
  val TrackingPrefix = "utm_"
  val TrackingParams: Seq[String] = Seq("gclid", "fbclid", "msclkid", "ref")

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  // non-capturing twin for composition (group 1 must stay the payload)
  private val SchemePre = "^[A-Za-z][A-Za-z0-9+.-]*://"

  private def isUrl(url: Column): Column = url.rlike(SchemeRe)

  private def whenUrl(url: Column, c: Column): Column =
    when(isUrl(url), c).otherwise(lit(null).cast("string"))

  /** Lowercased scheme (`https`), null for non-URLs. */
  def scheme(url: Column): Column =
    whenUrl(url, LowerExpr(regexp_extract(url, SchemeRe, 1)))

  /** Lowercased host: authority minus userinfo and port. Null for
    * non-URLs; empty string for a degenerate empty authority.
    */
  def host(url: Column): Column =
    whenUrl(url,
      LowerExpr(regexp_extract(url, SchemePre + "(?:[^/?#@]*@)?([^/?#:]*)", 1)))

  /** [[host]] with one leading `www.` stripped — the per-site grouping
    * key (domain mixing, per-site caps). NOT a public-suffix
    * registrable domain: that needs the PSL, a moving external list;
    * `www.`-folding covers the dominant alias class deterministically.
    */
  def siteHost(url: Column): Column =
    regexp_replace(host(url), "^www\\.", "")

  /** Explicit port as a string, `''` when absent, null for non-URLs. */
  def port(url: Column): Column =
    whenUrl(url,
      regexp_extract(url, SchemePre + "(?:[^/?#@]*@)?[^/?#:]*:(\\d+)", 1))

  /** Path component (`''` when absent), null for non-URLs. */
  def path(url: Column): Column =
    whenUrl(url, regexp_extract(url, SchemePre + "[^/?#]*([^?#]*)", 1))

  /** Raw query string without the `?` (`''` when absent). */
  def queryString(url: Column): Column =
    whenUrl(url, regexp_extract(url, "\\?([^#]*)", 1))

  /** Canonical URL — the exact-dedup key for crawl frontiers:
    * lowercased scheme and host, userinfo dropped, default ports
    * dropped (`http:80`, `https:443`), empty path normalized to `/`,
    * tracking parameters removed ([[TrackingPrefix]]/[[TrackingParams]]
    * by parameter name), surviving parameters SORTED (param order is
    * presentation, not identity), fragment dropped. Null for non-URLs.
    *
    * The parameter pipeline is split/filter/sort/join over array
    * columns — whole-stage-codegen HOFs, no UDF.
    */
  def normalize(url: Column): Column = {
    val sch = LowerExpr(regexp_extract(url, SchemeRe, 1))
    val hst = LowerExpr(regexp_extract(url, SchemePre + "(?:[^/?#@]*@)?([^/?#:]*)", 1))
    val prt = regexp_extract(url, SchemePre + "(?:[^/?#@]*@)?[^/?#:]*:(\\d+)", 1)
    val keepPort = prt =!= "" &&
      !(sch === "http" && prt === "80") && !(sch === "https" && prt === "443")
    val pth = regexp_extract(url, SchemePre + "[^/?#]*([^?#]*)", 1)
    val params = filter(split(regexp_extract(url, "\\?([^#]*)", 1), "&"), p => {
      val name = substring_index(p, "=", 1)
      p =!= "" && substring(name, 1, TrackingPrefix.length) =!= TrackingPrefix &&
        !name.isInCollection(TrackingParams)
    })
    val kept = array_sort(params)
    whenUrl(url, concat(
      sch, lit("://"), hst,
      when(keepPort, concat(lit(":"), prt)).otherwise(""),
      when(pth === "", "/").otherwise(pth),
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&"))).otherwise("")))
  }

  /** Site-level near-key: [[normalize]] with the host folded by
    * [[siteHost]] — `www.`-variants of one page share this key.
    */
  def normalizeSite(url: Column): Column =
    regexp_replace(normalize(url), "^([a-z][a-z0-9+.-]*://)www\\.", "$1")
}

package graft.operators

/** The `v1;k=v;...` parameter string that every persistable index
  * stores in its meta row. Values must not contain `;`; the first `=`
  * of a pair splits key from value.
  */
private[operators] object MetaCodec {

  def render(params: (String, Any)*): String =
    ("v1" +: params.map { case (k, v) => s"$k=$v" }).mkString(";")

  /** The `k -> v` pairs of `s`; fails typed as `unknown <family> index
    * version` on anything but a v1 string.
    */
  def parse(s: String, family: String): Map[String, String] = {
    require(s != null && s.startsWith("v1;"), s"unknown $family index version: $s")
    s.split(";").drop(1)
      .map { p => val i = p.indexOf('='); p.substring(0, i) -> p.substring(i + 1) }
      .toMap
  }
}

package graft

/** A bench-report JSON value with one renderer: compact, object fields in
  * the order given, numbers by [[Json.fmt]], every string through [[Json.q]].
  */
sealed trait Json {
  def render: String = this match {
    case Json.Obj(fs @ _*) => fs.map { case (k, v) => Json.q(k) + ":" + v.render }.mkString("{", ",", "}")
    case Json.Arr(xs) => xs.map(_.render).mkString("[", ",", "]")
    case Json.Num(v) => Json.fmt(v)
    case Json.Int(v) => v.toString
    case Json.Str(s) => Json.q(s)
    case Json.Bool(b) => b.toString
  }
}

object Json {
  final case class Obj(fields: (String, Json)*) extends Json
  final case class Arr(items: Seq[Json]) extends Json
  final case class Num(v: Double) extends Json
  final case class Int(v: Long) extends Json
  final case class Str(s: String) extends Json
  final case class Bool(b: Boolean) extends Json
  def numArr(vs: Seq[Double]): Arr = Arr(vs.map(Num))
  def strArr(vs: Seq[String]): Arr = Arr(vs.map(Str))
  def numObj(kvs: Seq[(String, Double)]): Obj = Obj(kvs.map { case (k, v) => k -> Num(v) }: _*)

  /** 2 decimals, trailing zeros (and a bare point) stripped: 6.0 → 6 */
  def fmt(v: Double): String = {
    val s = f"$v%.2f"
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

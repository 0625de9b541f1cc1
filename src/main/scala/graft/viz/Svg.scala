package graft.viz

/** Minimal zero-dependency SVG document builder — the rendering
  * substrate for [[Plots]], the engine's counterpart of the reference's
  * plotly/matplotlib surface (/root/reference/graphem/visualization.py).
  *
  * Deliberately tiny: fixed-precision coordinates (2 decimals) so output
  * is byte-deterministic across JVMs, and only the primitives the plot
  * layer needs. Colors follow a validated colorblind-safe palette
  * (series blue/orange pass all-pairs CVD checks; text wears text
  * tokens, never series colors).
  */
object Svg {

  // validated light-mode palette (see Plots scaladoc)
  val Surface = "#fcfcfb"
  val TextPrimary = "#0b0b0b"
  val TextSecondary = "#52514e"
  val Grid = "#e7e6e2"
  val Series1 = "#2a78d6" // blue
  val Series2 = "#eb6834" // orange

  def f(v: Double): String = {
    val r = math.rint(v * 100) / 100
    if (r == r.toLong) r.toLong.toString else r.toString
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  final class Doc(val width: Int, val height: Int) {
    private val sb = new StringBuilder
    sb.append(s"""<svg xmlns="http://www.w3.org/2000/svg" width="$width" height="$height" viewBox="0 0 $width $height" font-family="Helvetica, Arial, sans-serif">\n""")
    sb.append(s"""<rect width="$width" height="$height" fill="$Surface"/>\n""")

    def line(x1: Double, y1: Double, x2: Double, y2: Double,
             stroke: String, strokeWidth: Double = 1.0,
             dash: Option[String] = None): this.type = {
      val d = dash.map(v => s""" stroke-dasharray="$v"""").getOrElse("")
      sb.append(s"""<line x1="${f(x1)}" y1="${f(y1)}" x2="${f(x2)}" y2="${f(y2)}" stroke="$stroke" stroke-width="${f(strokeWidth)}"$d/>\n""")
      this
    }

    def circle(cx: Double, cy: Double, r: Double, fill: String,
               opacity: Double = 1.0): this.type = {
      val o = if (opacity >= 1.0) "" else s""" fill-opacity="${f(opacity)}""""
      sb.append(s"""<circle cx="${f(cx)}" cy="${f(cy)}" r="${f(r)}" fill="$fill"$o/>\n""")
      this
    }

    def rect(x: Double, y: Double, w: Double, h: Double, fill: String,
             opacity: Double = 1.0, rx: Double = 0.0): this.type = {
      val o = if (opacity >= 1.0) "" else s""" fill-opacity="${f(opacity)}""""
      val r = if (rx > 0) s""" rx="${f(rx)}"""" else ""
      sb.append(s"""<rect x="${f(x)}" y="${f(y)}" width="${f(w)}" height="${f(h)}" fill="$fill"$o$r/>\n""")
      this
    }

    /** anchor: start | middle | end */
    def text(x: Double, y: Double, s: String, size: Int = 11,
             fill: String = TextPrimary, anchor: String = "start",
             rotate: Option[Double] = None): this.type = {
      val rot = rotate.map(a => s""" transform="rotate(${f(a)} ${f(x)} ${f(y)})"""").getOrElse("")
      sb.append(s"""<text x="${f(x)}" y="${f(y)}" font-size="$size" fill="$fill" text-anchor="$anchor"$rot>${esc(s)}</text>\n""")
      this
    }

    def render: String = sb.toString + "</svg>\n"

    def writeTo(path: java.nio.file.Path): Unit = {
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.writeString(path, render)
    }
  }

  /** "Nice" rounded tick positions covering [lo, hi] (3-5 ticks).
    * Index-based (first + i*step), NEVER cumulative increment: when the
    * span is within a few ulps of |lo| (e.g. the near-identical radii
    * of a vertex-transitive graph), `x + step == x` in doubles and an
    * iterate/takeWhile loop would never terminate (it OOM'd a test
    * suite before this was hardened). The count is also hard-capped so
    * a subnormal/zero step can at worst emit a handful of duplicate
    * labels, not an unbounded sequence.
    */
  def ticks(lo: Double, hi: Double, target: Int = 4): Seq[Double] = {
    if (!java.lang.Double.isFinite(lo) || !java.lang.Double.isFinite(hi) || hi <= lo)
      return Seq(lo)
    val span = hi - lo
    val raw = span / target
    val mag = math.pow(10, math.floor(math.log10(raw)))
    val step = Seq(1.0, 2.0, 2.5, 5.0, 10.0).map(_ * mag)
      .find(_ >= raw).getOrElse(10 * mag)
    if (!(step > 0) || !java.lang.Double.isFinite(step)) return Seq(lo, hi)
    val first = math.ceil(lo / step) * step
    val count = {
      val c = math.floor((hi + 1e-9 * span - first) / step)
      if (java.lang.Double.isFinite(c)) math.max(0L, math.min(9L, c.toLong)) else 0L
    }
    val ts = (0L to count).map(i => first + i * step).filter(_ <= hi + 1e-9 * span)
    if (ts.isEmpty) Seq(lo, hi) else ts.distinct
  }

  /** Tick label: trims float noise (0.30000000000000004 -> "0.3"). */
  def label(v: Double): String = {
    if (v == v.toLong && math.abs(v) < 1e15) return v.toLong.toString
    val s = f"$v%.4g"
    if (s.contains('.') && !s.contains('e') && !s.contains('E'))
      s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
    else s
  }
}

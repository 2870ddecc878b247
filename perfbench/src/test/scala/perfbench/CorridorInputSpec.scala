package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.LonLat

class CorridorInputSpec extends AnyFunSuite {
  import CorridorInput._

  private val window = Window(-103.3, -103.2, 31.3, 31.4)
  private val lines = Seq(
    Line(0, "10", "A & B", (0 until 40).map(i => LonLat(-103.29 + i * 1e-3, 31.35))),
    Line(1, "11", "C", (0 until 40).map(i => LonLat(-103.29 + i * 1e-3, 31.3501 + i * 1e-6))))

  private def coords(kml: String): Seq[LonLat] =
    "<coordinates>([^<]*)</coordinates>".r.findAllMatchIn(kml).toSeq
      .flatMap(_.group(1).trim.split(" ").toSeq)
      .map { t => val Array(lon, lat) = t.split(","); LonLat(lon.toDouble, lat.toDouble) }

  test("the same seed renders byte-identical files") {
    assert(render(lines, 7, 4, 8, window) == render(lines, 7, 4, 8, window))
  }

  test("seeds pick the decimation phase and the order of the shifts") {
    val plans = (1L to 20L).map(plan(_, 4, 8))
    assert(plans.map(_.phase).distinct.size > 1)
    assert(plans.map(_.shifts).distinct.size > 1)
    plans.foreach(p => assert(p.shifts.sorted == Seq(0, 1, 2, 3)))
  }

  test("one file per copy, each shifted in longitude only") {
    val files = render(lines, 3, 4, 8, window)
    assert(files.map(_._1) == Seq("copy_00.kml", "copy_01.kml", "copy_02.kml", "copy_03.kml"))
    val p = plan(3, 4, 8)
    val base = coords(kml(clip(lines, window).map(l =>
      l.copy(points = decimate(l.points, p.phase, 8))), 0.0))
    for (((_, text), shift) <- files.zip(p.shifts)) {
      val c = coords(text)
      assert(c.map(_.lat) == base.map(_.lat))
      assert(c.zip(base).forall { case (a, b) => a.lon == b.lon + shift * ShiftDeg })
    }
  }

  test("decimation keeps both ends and every step-th point from the phase") {
    val pts = (0 until 20).map(i => LonLat(i, 0))
    assert(decimate(pts, 3, 8).map(_.lon.toInt) == Seq(0, 3, 11, 19))
    assert(decimate(pts, 0, 8).map(_.lon.toInt) == Seq(0, 8, 16, 19))
  }

  test("clipping keeps each run inside the window as its own line") {
    val inside = LonLat(-103.25, 31.35)
    val outside = LonLat(-104.0, 31.35)
    val l = Line(5, "1", "L", Seq(inside, inside, outside, inside, outside, inside, inside, inside))
    val pieces = clip(Seq(l), window)
    assert(pieces.map(_.points.size) == Seq(2, 3))
    assert(pieces.map(_.name) == Seq("L", "L (2)"))
  }

  test("names are escaped for XML") {
    assert(kml(lines, 0.0).contains("<name>A &amp; B</name>"))
  }
}

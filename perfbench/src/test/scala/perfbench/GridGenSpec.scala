package perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.time.{LocalDateTime, ZoneOffset}

import org.scalatest.funsuite.AnyFunSuite

import graft.grid.{AscGrid, GridReader}

/** The generator against FIXTURES.md F1, and against the program's parser. */
class GridGenSpec extends AnyFunSuite {

  // F1: 4 x 3 cells of 0.5 degrees from 112E, 44S, NODATA -999.
  private val f1 = new GridGen(seed = 1, ncols = 4, nrows = 3, cellsize = 0.5, xll = 112.0, yll = -44.0)
  private val f1Values = Array(12, 15, -999, 20, 7, -999, 9, 11, -999, 3, 4, -999)
  private val f1Hour = LocalDateTime.of(2017, 12, 31, 23, 0).toEpochSecond(ZoneOffset.UTC) / 3600

  test("F1 file text, name, partition and date") {
    assert(new String(f1.text(f1Values), US_ASCII) ==
      "ncols 4\nnrows 3\nxllcorner 112.0\nyllcorner -44.0\ncellsize 0.5\nNODATA_value -999\n" +
        "12 15 -999 20\n7 -999 9 11\n-999 3 4 -999\n")
    assert(f1.fileName(f1Hour) == "IDZ00026_radiation_20171231_2300.txt")
    assert(f1.partition(f1Hour) == PartKey(2018, 1, 1, 10))
    assert(f1.localDate(f1Hour) == "2018-01-01 10:00")
  }

  test("F1 expected points and partition truth") {
    val want = Seq(
      (112.0, -43.0, 12), (112.5, -43.0, 15), (113.5, -43.0, 20),
      (112.0, -43.5, 7), (113.0, -43.5, 9), (113.5, -43.5, 11),
      (112.5, -44.0, 3), (113.0, -44.0, 4))
    assert(Common.boxCells(f1, f1Values, 0, 2, 0, 3) == want)
    assert(f1.truth(f1Values) == PartTruth(8, 81))
  }

  test("non-DST hour maps to +10, and start hours cross the Sydney midnight") {
    val june = LocalDateTime.of(2017, 6, 15, 2, 0).toEpochSecond(ZoneOffset.UTC) / 3600
    assert(f1.partition(june) == PartKey(2017, 6, 15, 12))
    val start = GridGen.startHour(7)
    val days = (0 until 6).map(h => f1.partition(start + h).day).distinct
    assert(days.length == 2)
    val load = IngestAdhoc.LoadHours.map(GridGen.startDay(7) + _).map(f1.partition)
    assert(load.map(_.hour) == Seq(12, 20, 0) && load.map(_.day).distinct.length == 2)
  }

  test("generated grids are deterministic per seed and about 40% ocean") {
    val a = new GridGen(5, ncols = 120, nrows = 90)
    val b = new GridGen(5, ncols = 120, nrows = 90)
    val c = new GridGen(6, ncols = 120, nrows = 90)
    val h = GridGen.startHour(5)
    assert(a.text(a.values(h)).sameElements(b.text(b.values(h))))
    assert(!a.text(a.values(h)).sameElements(c.text(c.values(h))))
    assert(math.abs(a.landCells.toDouble / (120 * 90) - 0.6) < 0.01)
    assert(a.values(h).forall(v => v == a.nodata || v >= 0))
  }

  test("the program reads a generated grid as the generator says") {
    val g = new GridGen(9, ncols = 60, nrows = 40)
    val h = GridGen.startHour(9) + 2
    val v = g.values(h)
    val pts = GridReader.explodeFile(g.fileName(h), new String(g.text(v), US_ASCII)).toSeq
    assert(pts.map(p => (p.longitude, p.latitude, p.radiation)) == Common.boxCells(g, v, 0, g.nrows - 1, 0, g.ncols - 1))
    val k = g.partition(h)
    assert(pts.forall(p => (p.year, p.month, p.day, p.hour) == (k.year, k.month, k.day, k.hour) && p.date == g.localDate(h)))
  }

  test("a truncated grid does not parse") {
    val g = new GridGen(9, ncols = 60, nrows = 40)
    val v = g.values(GridGen.startHour(9))
    assertThrows[Exception](AscGrid.parse(new String(g.text(v, keepRows = 5), US_ASCII)))
  }
}

package perfbench

import java.time.{Instant, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Sydney-local partition of one UTC hour, as the serving table keys it. */
final case class PartKey(year: Int, month: Int, day: Int, hour: Int) {
  override def toString: String = f"$year%04d-$month%02d-$day%02d/$hour%02d"
}

/** Expected content of one hour partition. */
final case class PartTruth(points: Long, radiationSum: Long)

/** Seeded BOM-shaped radiation grids and their ground truth.
  *
  * A grid is an ESRI ASCII raster of `ncols` x `nrows` ints on the BOM
  * Australia frame by default (886 x 691 cells of 0.05 degrees from 112E,
  * 44.5S). A fixed seeded land mask leaves `oceanShare` of the cells as one
  * contiguous NODATA ocean; land cells carry a diurnal value that depends on the UTC
  * hour and longitude, a seeded cloud field and seeded noise.
  *
  * Every cell is a pure function of `(seed, utcHour, row, col)`, so the
  * answers the checks need are computed here from that function alone,
  * never by reading the program's output or calling into it.
  */
final class GridGen(
    val seed: Long,
    val ncols: Int = 886,
    val nrows: Int = 691,
    val cellsize: Double = 0.05,
    val xll: Double = 112.0,
    val yll: Double = -44.5) {
  val nodata: Int = -999
  val oceanShare: Double = 0.4

  /** Affine placement the file format defines (FIXTURES.md F1). */
  def lat(r: Int): Double = yll + (nrows - 1 - r) * cellsize
  def lon(c: Int): Double = xll + c * cellsize

  /** Row-major land mask: the top `1 - oceanShare` of a smooth seeded field. */
  val land: Array[Boolean] = {
    val rnd = new java.util.Random(seed ^ 0x5eed1a4dL)
    val phases = Array.fill(6)(rnd.nextDouble() * 2 * math.Pi)
    val cx = 0.5 + (rnd.nextDouble() - 0.5) * 0.1
    val cy = 0.5 + (rnd.nextDouble() - 0.5) * 0.1
    val f = new Array[Double](nrows * ncols)
    var r = 0
    while (r < nrows) {
      var c = 0
      val y = r.toDouble / nrows
      while (c < ncols) {
        val x = c.toDouble / ncols
        val d = math.hypot((x - cx) * 1.1, y - cy)
        val wobble = 0.06 * math.sin(3 * x * 2 * math.Pi + phases(0)) +
          0.05 * math.sin(2 * y * 2 * math.Pi + phases(1)) +
          0.04 * math.sin(5 * (x + y) * 2 * math.Pi + phases(2))
        f(r * ncols + c) = wobble - d
        c += 1
      }
      r += 1
    }
    val sorted = f.clone()
    java.util.Arrays.sort(sorted)
    val landCells = math.round((1 - oceanShare) * f.length).toInt
    val threshold = sorted(f.length - landCells)
    f.map(_ >= threshold)
  }

  val landCells: Long = land.count(identity).toLong

  private def mix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Solar elevation factor per column for one UTC hour, 0 at night. */
  private def elevation(utcHour: Long): Array[Double] = {
    val hod = java.lang.Math.floorMod(utcHour, 24L).toDouble
    Array.tabulate(ncols) { c =>
      val solar = (hod + lon(c) / 15.0) % 24.0
      if (solar > 6.0 && solar < 18.0) StrictMath.sin(math.Pi * (solar - 6.0) / 12.0) else 0.0
    }
  }

  /** Cell values of one hour's grid, row-major, NODATA on ocean. */
  def values(utcHour: Long): Array[Int] = {
    val elev = elevation(utcHour)
    val out = new Array[Int](nrows * ncols)
    val hs = mix(seed * 31 + utcHour)
    var r = 0
    while (r < nrows) {
      val amp = 1100.0 - 9.0 * math.abs(lat(r) + 25.0)
      var c = 0
      while (c < ncols) {
        val i = r * ncols + c
        out(i) =
          if (!land(i)) nodata
          else {
            val cloud = 0.55 + 0.45 * ((mix(hs ^ ((r >> 5).toLong << 20 | (c >> 5))) >>> 11) % 1000) / 1000.0
            val noise = ((mix(hs + i) >>> 33) % 23).toInt
            (amp * elev(c) * cloud).toInt + noise
          }
        c += 1
      }
      r += 1
    }
    out
  }

  private val utcName = DateTimeFormatter.ofPattern("yyyyMMdd_HH").withZone(ZoneOffset.UTC)

  /** BOM filename of a grid; its embedded datetime is UTC. */
  def fileName(utcHour: Long, product: String = "IDZ00026"): String =
    s"${product}_radiation_${utcName.format(Instant.ofEpochSecond(utcHour * 3600))}00.txt"

  def partition(utcHour: Long): PartKey = {
    val local = Instant.ofEpochSecond(utcHour * 3600).atZone(GridGen.Sydney)
    PartKey(local.getYear, local.getMonthValue, local.getDayOfMonth, local.getHour)
  }

  /** The `date` column value every row of the hour carries. */
  def localDate(utcHour: Long): String =
    GridGen.localFmt.format(Instant.ofEpochSecond(utcHour * 3600).atZone(GridGen.Sydney))

  def truth(vals: Array[Int]): PartTruth = {
    var n = 0L
    var s = 0L
    var i = 0
    while (i < vals.length) {
      if (vals(i) != nodata) { n += 1; s += vals(i) }
      i += 1
    }
    PartTruth(n, s)
  }

  private def header: String =
    s"ncols $ncols\nnrows $nrows\nxllcorner $xll\nyllcorner $yll\ncellsize $cellsize\nNODATA_value $nodata\n"

  /** The grid file's bytes; `keepRows` < nrows cuts the file part-way
    * through the next row, as a half-written upload looks.
    */
  def text(vals: Array[Int], keepRows: Int = Int.MaxValue): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream(nrows * ncols * 4 + 256)
    buf.write(header.getBytes("US-ASCII"))
    val digits = new Array[Byte](12)
    val rows = math.min(keepRows, nrows)
    val cut = if (keepRows < nrows) ncols / 2 else 0
    var r = 0
    while (r < rows + (if (cut > 0) 1 else 0)) {
      val lastCol = if (r == rows) cut else ncols
      var c = 0
      while (c < lastCol) {
        var v = vals(r * ncols + c)
        val neg = v < 0
        if (neg) v = -v
        var k = 0
        if (v == 0) { digits(0) = '0'; k = 1 }
        while (v > 0) { digits(k) = ('0' + v % 10).toByte; v /= 10; k += 1 }
        if (neg) buf.write('-')
        while (k > 0) { k -= 1; buf.write(digits(k)) }
        if (c < ncols - 1) buf.write(' ')
        c += 1
      }
      if (r < rows) buf.write('\n')
      r += 1
    }
    buf.toByteArray
  }
}

object GridGen {
  val Sydney: ZoneId = ZoneId.of("Australia/Sydney")
  private val localFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")

  /** 00:00 UTC, as an epoch hour, of a seeded day in January 2018: AEDT,
    * UTC+11, with no DST change for weeks either side.
    */
  def startDay(seed: Long): Long = {
    val day = java.lang.Math.floorMod(seed * 7919L, 20L) + 2
    java.time.LocalDate.of(2018, 1, day.toInt).atStartOfDay().toEpochSecond(ZoneOffset.UTC) / 3600
  }

  /** 08:00 UTC of the seeded day, so the hours that follow cross the
    * Sydney midnight at 13:00 UTC.
    */
  def startHour(seed: Long): Long = startDay(seed) + 8
}

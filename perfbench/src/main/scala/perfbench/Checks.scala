package perfbench

/** Output checks. Each takes what the program produced and what the
  * generator says it should have produced, and returns one line per
  * mismatch (empty when the output is correct). They hold no Spark code,
  * so the benchmark's tests can feed them wrong expectations directly.
  */
object Checks {

  /** Actual content of one hour partition as the serving table reports it. */
  final case class PartStat(points: Long, radiationSum: Long, dates: Set[String])

  /** Every expected partition is present with its point count, radiation
    * sum and single Sydney-local `date`; no other partition exists.
    */
  def partitions(actual: Map[PartKey, PartStat], expected: Map[PartKey, (PartTruth, String)]): Seq[String] = {
    val missing = (expected.keySet -- actual.keySet).toSeq.map(k => s"partition $k missing")
    val extra = (actual.keySet -- expected.keySet).toSeq.map(k => s"partition $k not expected")
    val wrong = expected.toSeq.flatMap { case (k, (t, date)) =>
      actual.get(k).toSeq.flatMap { a =>
        Seq(
          if (a.points != t.points) Some(s"partition $k: ${a.points} points, expected ${t.points}") else None,
          if (a.radiationSum != t.radiationSum) Some(s"partition $k: radiation sum ${a.radiationSum}, expected ${t.radiationSum}") else None,
          if (a.dates != Set(date)) Some(s"partition $k: dates ${a.dates.mkString(",")}, expected $date") else None
        ).flatten
      }
    }
    (missing ++ extra ++ wrong).sorted
  }

  /** The registered partitions are exactly the expected keys. */
  def registered(actual: Set[PartKey], expected: Set[PartKey]): Seq[String] =
    ((expected -- actual).toSeq.map(k => s"partition $k not registered") ++
      (actual -- expected).toSeq.map(k => s"partition $k registered but not expected")).sorted

  /** Row sets compared as sorted sequences; rows render with `toString`. */
  def rows[R](label: String, actual: Seq[R], expected: Seq[R])(implicit ord: Ordering[R]): Seq[String] = {
    val a = actual.sorted
    val e = expected.sorted
    if (a == e) Nil
    else {
      val firstDiff = a.zipAll(e, null, null).indexWhere { case (x, y) => x != y }
      Seq(s"$label: ${a.length} rows, expected ${e.length}; first difference at row $firstDiff: " +
        s"${a.lift(firstDiff).getOrElse("<none>")} vs ${e.lift(firstDiff).getOrElse("<none>")}")
    }
  }

  /** Where each truncated file must be after `drains` drains under the
    * redrive policy: a file that arrived before drain `j` (0-based) has
    * failed `drains - j` times. Below `maxAttempts` it waits in the input
    * directory as `retry<attempts+1>__<name>`; at `maxAttempts` it sits in
    * quarantine with that attempt count.
    */
  def redrive(
      truncated: Seq[(Int, String)],
      drains: Int,
      maxAttempts: Int,
      inputNames: Set[String],
      quarantined: Map[String, Long]): Seq[String] =
    truncated.flatMap { case (arrivedBefore, name) =>
      val failures = drains - arrivedBefore
      if (failures < maxAttempts) {
        val want = s"retry${failures + 1}__$name"
        Seq(
          if (!inputNames(want)) Some(s"$want not re-enqueued") else None,
          quarantined.get(name).map(a => s"$name quarantined after $a attempts, expected pending retry")
        ).flatten
      } else {
        quarantined.get(name) match {
          case Some(a) if a == maxAttempts => Nil
          case Some(a) => Seq(s"$name quarantined after $a attempts, expected $maxAttempts")
          case None => Seq(s"$name not quarantined after $failures failures")
        }
      }
    }

  /** The ledger holds one SUCCEEDED record per catalog call the workload made. */
  def ledger(calls: Int, recorded: Seq[(String, String)]): Seq[String] = {
    val bad = recorded.filter(_._2 != "SUCCEEDED").map { case (s, st) => s"ledger: $st for $s" }
    val count =
      if (recorded.length != calls) Seq(s"ledger: ${recorded.length} records for $calls catalog calls")
      else Nil
    bad ++ count
  }
}

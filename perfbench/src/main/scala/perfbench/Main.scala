package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One benchmark run in one JVM:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--trace-out <dir>]`.
  *
  * Prints, as its last stdout line, the result object: `correct`,
  * `attempted`, `failed` and `metrics` (end-to-end metrics untraced,
  * per-layer metrics traced), plus `detail` with per-class latencies and
  * `mismatches` with the first failed checks.
  */
object Main {
  val Workloads: Map[String, Env => RunResult] = Map(
    "ingest_adhoc" -> IngestAdhoc.run,
    "serve_pruned" -> ServePruned.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload '$workload'; known: ${Workloads.keys.mkString(", ")}"))
    val traced = need("trace") == "1"
    val env = Env(workload, need("seed").toLong, need("seconds").toInt,
      Runtime.getRuntime.availableProcessors(), Paths.get(need("work")), new Tracer(traced))
    val t0 = System.nanoTime()
    val res = run(env)
    System.err.println(f"perfbench: $workload seed ${env.seed} ran in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    def metrics(ms: Seq[(String, Metric)]): String = ms.map { case (k, m) =>
      s"""${Json.str(k)}: {"value": ${Json.num(m.value)}, "unit": ${Json.str(m.unit)}}"""
    }.mkString("{", ", ", "}")
    val reported = if (traced) res.perLayer else res.endToEnd

    opts.get("trace-out").filter(_ => traced).foreach { dir =>
      val d = Paths.get(dir)
      Files.createDirectories(d)
      val base = s"$workload-seed${env.seed}"
      Files.write(d.resolve(s"$base.spans.json"), env.tracer.spansJson.getBytes(StandardCharsets.UTF_8))
      Files.write(d.resolve(s"$base.traced_e2e.json"),
        s"""{"end_to_end": ${metrics(res.endToEnd)}, "detail": ${metrics(res.detail)}}""".getBytes(StandardCharsets.UTF_8))
    }

    val correct = res.mismatches.isEmpty && res.failed == 0
    println(
      s"""{"correct": $correct, "attempted": ${res.attempted}, "failed": ${res.failed}, """ +
        s""""metrics": ${metrics(reported)}, "detail": ${metrics(res.detail)}, """ +
        s""""mismatches": ${res.mismatches.take(20).map(Json.str).mkString("[", ", ", "]")}}""")
  }
}

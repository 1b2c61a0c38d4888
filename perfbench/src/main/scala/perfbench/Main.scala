package perfbench

import java.io.File

/** Command-line options shared by the workloads. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: File, cores: Int) {
  def dir(name: String): File = { val f = new File(work, name); f.mkdirs(); f }
}

/** One metric as the benchmark prints it. */
final case class Metric(name: String, value: Double, unit: String)

final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[Metric], notes: Seq[String] = Nil) {
  def json: String = {
    val ms = metrics.map(m =>
      s"${Json.str(m.name)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--cores <n>]`, run from the root of the
  * checkout. Prints every metric by name with its unit on stderr, then the
  * result as one JSON line on stdout.
  */
object Main {
  val workloads: Map[String, Opts => Result] = Map(
    "stream_warehouse" -> StreamWarehouse.run,
    "batch_curation" -> BatchCuration.run)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(
      workload = kv.getOrElse("workload", ""),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toInt,
      trace = kv.get("trace").contains("1"),
      work = new File(kv.getOrElse("work", "perfbench-work")),
      cores = kv.getOrElse("cores", "4").toInt)
    val run = workloads.getOrElse(opts.workload, {
      System.err.println(s"unknown workload '${opts.workload}'; one of ${workloads.keys.mkString(", ")}")
      sys.exit(2)
    })
    val r = run(opts)
    r.notes.foreach(n => System.err.println(s"[perfbench] $n"))
    r.metrics.foreach(m => System.err.println(f"[perfbench] ${m.name}%-40s ${Json.num(m.value)}%16s ${m.unit}"))
    System.err.println(s"[perfbench] correct=${r.correct} attempted=${r.attempted} failed=${r.failed}")
    System.out.println(r.json)
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out, so end here
    sys.exit(0)
  }
}

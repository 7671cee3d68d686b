package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One benchmark run: one fresh process, one client issuing calls in
  * sequence. Prints the result object as the last line of stdout.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --root <benchmark dir> --work <scratch dir>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      root: Path, work: Path)

  /** What a workload hands back: operation counts and metric values. */
  final case class Outcome(attempted: Long, failed: Long, values: Map[String, Double])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("root")), Paths.get(need("work")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val expected = Expected.load(args.root.resolve("expected/fingerprints.tsv"))
    val outcome = args.workload match {
      case "etl_release" => new Release(args, expected).run()
      case "suite_iter" => new Suite(args, expected).run()
      case w => sys.error(s"unknown workload $w")
    }
    val metrics = Json.obj(Metrics.select(args.trace, outcome.values).map { case (n, v, unit) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    })
    println(Json.obj(Seq(
      "correct" -> (outcome.failed == 0 && outcome.attempted > 0).toString,
      "attempted" -> Json.num(outcome.attempted),
      "failed" -> Json.num(outcome.failed),
      "metrics" -> metrics)))
  }
}

/** Expected output fingerprints, keyed by `<scope>/<output>`. */
object Expected {
  def load(path: Path): Map[String, String] =
    Files.readAllLines(path).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).collect { case Array(k, fp) => k -> fp }.toMap
}

package graft

import org.apache.spark.sql.SparkSession

/** The one entry point of the measurement and check harnesses outside
  * the driver contract (`graft.Bench`, `graft.Verify`):
  * `graft.Harness <cmd> [args…]`, one subcommand per harness object
  * ([[RunOne]], [[BenchPartitioned]], [[ClusterCheck]],
  * [[AnnRecallScale]], [[SemDedupScale]], [[SemIndexScale]]). With no
  * or an unknown subcommand it fails with the usage lines.
  *
  * The preamble is written once here. The timing subcommands re-exec
  * under ParallelGC ([[Bench.reexecWithParallelGC]]), so an isolated run
  * measures what the suite does: the nProbe=2 sf100 cycle 1 of
  * sem-index-scale ran 663 s under default G1 and 45.8 s under
  * ParallelGC (r16). `bench-partitioned` and `cluster-check` stay in
  * this JVM. Each subcommand then runs on one [[core.Sessions]] session
  * on `SPARK_GRAFT_CPUS` cores (default 32) over its input dir, plus
  * its own caller-side settings, at log level WARN, stopped at exit.
  */
object Harness {

  /** A subcommand: its argument line, whether it re-execs, its input dir
    * from its arguments, caller-side session settings, and its body
    * (which gets the arguments after the subcommand name).
    */
  private final case class Cmd(args: String, reexec: Boolean,
                               inputDir: Array[String] => String,
                               run: (SparkSession, String, Array[String]) => Unit,
                               tune: SparkSession.Builder => SparkSession.Builder = identity)

  private def sfEnv(default: String): String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)

  private val commands: Seq[(String, Cmd)] = Seq(
    "run-one" -> Cmd("<sfDir> <query>|--floor [--explain] [--runs N]",
      reexec = true, _(0), RunOne.run),
    "bench-partitioned" -> Cmd("[sfDir]", reexec = false,
      _.headOption.getOrElse(sfEnv("/root/testdata/sf0.1")), BenchPartitioned.run,
      // the rule under test: ts-range → year/month partition predicates
      _.config("spark.sql.extensions", "graft.plans.GraftExtensions")),
    "cluster-check" -> Cmd("", reexec = false,
      _ => sfEnv("/root/testdata/sf0.001"), ClusterCheck.run, ClusterCheck.tune),
    "ann-recall" -> Cmd("<sfDir> [topK=10] [nQueries=100]",
      reexec = true, _(0), AnnRecallScale.run),
    "sem-dedup-scale" -> Cmd("<sfDir> [k|auto] [runs]",
      reexec = true, _(0), SemDedupScale.run),
    "sem-index-scale" -> Cmd("<sfDir> [batches] [root] [nProbe]",
      reexec = true, _(0), SemIndexScale.run))

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.flatMap(commands.toMap.get).getOrElse(sys.error(
      commands.map { case (n, c) => s"  graft.Harness $n ${c.args}".stripTrailing }
        .mkString("usage:\n", "\n", "")))
    if (cmd.reexec && Bench.reexecWithParallelGC("graft.Harness", args)) return
    val rest = args.drop(1)
    val dir = cmd.inputDir(rest)
    val spark = cmd.tune(core.Sessions.builder(core.Sessions.cpus(32), dir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try cmd.run(spark, dir, rest) finally spark.stop()
  }
}

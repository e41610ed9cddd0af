package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Executor-isolation parity (see [[ClusterCheck]]): the same
  * serialization-sensitive query subset must produce identical
  * order-independent digests under local[4] (tasks in the driver JVM)
  * and under `local-cluster[2,2,1536]` (the standalone scheduler
  * spawning two REAL separate executor JVMs). local-mode testing can
  * never catch a closure capturing non-serializable driver state, an
  * Expression broken by (de)serialization, or a driver-heap-dependent
  * broadcast — this spec makes every task, Expression tree, and
  * broadcast cross actual process boundaries.
  *
  * Both sides run as child JVMs (identical lifecycle; the suite's
  * shared session stays untouched). Skips cleanly when no Spark
  * distribution is present (multi-process workers launch executors
  * through SPARK_HOME) or the driver testdata is absent.
  */
class ClusterParitySpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private def sparkHome: Option[String] =
    sys.env.get("SPARK_HOME")
      .orElse(Some("/opt/spark"))
      .filter(h => Files.exists(Paths.get(h, "bin", "spark-class")))

  /** Runs `graft.Harness cluster-check` in a child JVM; returns (executors, per-query
    * (rows, digest)).
    */
  private def runChild(master: String, home: Option[String],
                       dir: Path): (Long, Map[String, (Long, String)]) = {
    val slug = master.replaceAll("[^a-z0-9]+", "_")
    val out = dir.resolve(s"$slug.json")
    val err = dir.resolve(s"$slug.err")
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin) ++ graft.queries.MultiWriterChild.jdk17AddOpens ++ Seq(
      "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"), "graft.Harness", "cluster-check")
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("SPARK_GRAFT_MASTER", master)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sf)
    home.foreach { h =>
      pb.environment().put("SPARK_HOME", h)
      // the worker builds executor commands in-process (no bin scripts
      // ran to set this); without it the launcher probes for source-tree
      // build dirs and dies with "Cannot find any build directories"
      pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    }
    pb.redirectOutput(out.toFile)
    pb.redirectError(err.toFile)
    val p = pb.start()
    val done = p.waitFor(900, TimeUnit.SECONDS)
    if (!done) p.destroyForcibly()
    def errTail: String = {
      val lines = new String(Files.readAllBytes(err), "UTF-8").linesIterator.toSeq
      lines.takeRight(15).mkString("\n")
    }
    assert(done && p.exitValue() == 0,
      s"ClusterCheck($master) ${if (done) s"exit=${p.exitValue()}" else "timed out"}\n$errTail")

    val json = new String(Files.readAllBytes(out), "UTF-8").linesIterator
      .find(_.startsWith("{"))
      .getOrElse(fail(s"no JSON line from ClusterCheck($master)"))
    val parsed = JsonMethods.parse(json)
    val execs = (parsed \ "executors") match {
      case JInt(n) => n.toLong
      case other   => fail(s"bad executors field: $other")
    }
    val results = (parsed \ "results") match {
      case JObject(fields) => fields.map { case (name, v) =>
        val rows = (v \ "rows") match { case JInt(n) => n.toLong; case o => fail(s"$name rows: $o") }
        val d = (v \ "digest") match { case JString(s) => s; case o => fail(s"$name digest: $o") }
        name -> (rows, d)
      }.toMap
      case other => fail(s"bad results field: $other")
    }
    (execs, results)
  }

  test("serialization-sensitive subset: digests match local[4] vs 2-process local-cluster") {
    assume(Files.exists(Paths.get(sf)), s"driver testdata absent: $sf")
    assume(sparkHome.isDefined, "no Spark distribution (SPARK_HOME) for local-cluster")
    val dir = Files.createTempDirectory("graft-cluster-parity")
    try {
      val (_, localRes) = runChild("local[4]", None, dir)
      val (execs, clusterRes) = runChild("local-cluster[2,2,1536]", sparkHome, dir)
      // 2 executor JVMs + driver: a fallback to driver-only execution
      // would make the parity vacuous
      assert(execs >= 3, s"expected >=2 separate executors + driver, saw $execs entries")
      assert(clusterRes.keySet == localRes.keySet)
      val bad = ClusterCheck.subset.flatMap { q =>
        (localRes(q), clusterRes(q)) match {
          case ((lr, ld), (cr, cd)) if lr != cr || ld != cd =>
            Some(s"$q: local rows=$lr digest=$ld, cluster rows=$cr digest=$cd")
          case _ => None
        }
      }
      assert(bad.isEmpty, s"digest mismatches across process boundary:\n${bad.mkString("\n")}")
      assert(localRes.forall(_._2._1 > 0), "every subset query must return rows")
    } finally {
      try graft.core.PathWalk.deleteRecursively(dir)
      catch { case _: Exception => () }
    }
  }
}

package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. `setup` is the untimed preparation
  * (warm-up and staging) that a fresh session needs before the first
  * timed operation; `run` measures and checks, and returns raw samples
  * for `perfbench/run.py` to reduce. */
trait Workload {
  def name: String
  def setup(b: Bench): Unit
  def run(b: Bench, seconds: Int): Map[String, Any]
}

/** What a workload run needs: the session, its scratch directory inside
  * the checkout, the seed, and the span/counter recorder. */
final class Bench(val spark: SparkSession, val work: Path, val seed: Long,
                  val cores: Int, val rec: Recorder) {
  private val dirs = new java.util.concurrent.atomic.AtomicInteger()

  /** the traced run measures each workload briefly: its numbers are
    * per-layer attributions, not the bounded end-to-end figures */
  def brief: Boolean = rec.enabled

  /** a fresh, empty directory under the run's scratch directory */
  def freshDir(prefix: String): String = {
    val d = work.resolve(s"$prefix-${dirs.incrementAndGet()}")
    Files.createDirectories(d)
    d.toString
  }
}

object Main {
  val Workloads: Seq[Workload] = Seq(WcLatency, WcThroughput, TableDml, QuerySuite)

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def json(v: Any): String = mapper.writeValueAsString(v)

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
                        trace: Boolean = false, cores: Int = 4,
                        out: String = "", work: String = "", t0Ms: Long = -1)

  def parse(args: Array[String]): Args =
    args.grouped(2).foldLeft(Args()) {
      case (a, Array("--workload", v)) => a.copy(workload = v)
      case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
      case (a, Array("--seconds", v)) => a.copy(seconds = v.toInt)
      case (a, Array("--trace", v)) => a.copy(trace = v == "1")
      case (a, Array("--cores", v)) => a.copy(cores = v.toInt)
      case (a, Array("--out", v)) => a.copy(out = v)
      case (a, Array("--work", v)) => a.copy(work = v)
      case (a, Array("--t0-ms", v)) => a.copy(t0Ms = v.toLong)
      case (_, other) => sys.error(s"unknown argument: ${other.mkString(" ")}")
    }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.default.parallelism", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.bench", classOf[graft.sources.GraftCatalog].getName)
      .config("spark.sql.catalog.bench.warehouse", work.resolve("graft-wh").toString)
      .withExtensions(new graft.GraftExtensions())
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Builds a session and prepares `wls` on it; returns the bench and
    * the seconds from `t0Ms` until the first timed operation can run. */
  private def setUp(a: Args, wls: Seq[Workload], cores: Int, rec: Recorder,
                    t0Ms: Long): (Bench, Double) = {
    val work = Paths.get(a.work).resolve(s"setup-$cores")
    Files.createDirectories(work)
    val bench = new Bench(session(cores, work), work, a.seed, cores, rec)
    rec.span("setup", s"setup-$cores")(wls.foreach(_.setup(bench)))
    (bench, (System.currentTimeMillis() - t0Ms) / 1000.0)
  }

  private def measure(b: Bench, w: Workload, seconds: Int): Map[String, Any] = {
    b.rec.attach(b.spark)
    Jvm.resetHeapPeak()
    val res = b.rec.span("run", w.name)(w.run(b, seconds))
    b.rec.detach()
    res + ("heap_peak_mb" -> Jvm.heapPeakMb)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = if (a.t0Ms > 0) a.t0Ms
      else java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val rec = new Recorder(a.trace)
    val out: Map[String, Any] =
      if (!a.trace) {
        val w = Workloads.find(_.name == a.workload)
          .getOrElse(sys.error(s"unknown workload ${a.workload}"))
        val (b, setupS) = setUp(a, Seq(w), a.cores, rec, t0)
        try Map("setup_s" -> setupS, "workloads" -> Map(w.name -> measure(b, w, a.seconds)))
        finally stop(b.spark)
      } else {
        // the traced run: every workload in one process with listeners
        // on, each over half the window, then the throughput workload
        // again on a single core
        val secs = math.max(3, a.seconds / 2)
        val (b, setupS) = setUp(a, Workloads, a.cores, rec, t0)
        val results = try Workloads.map(w => w.name -> measure(b, w, secs)).toMap
          finally stop(b.spark)
        val (b1, _) = setUp(a, Seq(WcThroughput), 1, rec, System.currentTimeMillis())
        val single = try measure(b1, WcThroughput, secs) finally stop(b1.spark)
        Map("setup_s" -> setupS, "workloads" -> results,
          "wc-throughput-1core" -> single, "spans" -> rec.spanList)
      }
    Files.writeString(Paths.get(a.out), json(out + ("cores" -> a.cores)))
  }
}

package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload against the program built from
  * this checkout and writes `result.json` (metrics, operation counts and
  * check failures) into the work directory for `run.py` to report.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <sfDir> */
object Main {

  final case class Ctx(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, sfDir: String, cpus: Int)

  /** What a workload hands back. `e2e` are the end-to-end metrics, `layer`
    * the per-layer ones (filled on the traced run), `extra` figures printed
    * by name for reading but not compared. */
  final class Out {
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, msg: => String): Unit =
      if (!ok && problems.size < 20) problems += msg
  }

  /** Session settings of `graft.Bench`, at `local[cpus]`, with every
    * directory Spark or the lake catalog writes kept under `work`. */
  def session(c: Ctx): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.catalog.graftfns", "graft.functions.GraftFunctionCatalog")
      .config("spark.sql.catalog.graftlake", "graft.sources.GraftRowCatalog")
      .config("spark.sql.catalog.graftlake.basedir", c.work.resolve("lake").toString)
      .config("spark.local.dir", c.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", c.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Builds the session and runs `warm` three times, stopping all but the
    * last session; returns it with the median set-up seconds. */
  def setUp(c: Ctx)(warm: (SparkSession, Int) => Unit): (SparkSession, Double) = {
    var spark: SparkSession = null
    val times = (0 until 3).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(c)
      warm(spark, rep)
      val sec = (System.nanoTime() - t0) / 1e9
      log(f"set-up $rep: $sec%.3f s")
      sec
    }
    (spark, Stats.median(times))
  }

  /** Runs rounds until the next one would end past `seconds` (at least
    * one): every run attempts whole rounds. Returns each round's seconds. */
  def rounds(seconds: Double)(round: Int => Double): IndexedSeq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    var used = 0.0
    while (out.isEmpty || used + out.last <= seconds) {
      val s = round(out.size)
      out += s
      used += s
    }
    out.toIndexedSeq
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr (kept in the run's log). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val c = Ctx(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      Paths.get(args(4)).toAbsolutePath, args(5),
      Runtime.getRuntime.availableProcessors())
    Files.createDirectories(c.work)
    val out = new Out
    val spark = try c.workload match {
      case "ingest_bulk" => IngestWork.run(c, out, topics = 1,
        partitions = c.cpus, perBatch = 10000)
      // half the cores: with one stream per core the stream and Spark driver
      // threads queue behind the clients and a round waits on the slowest
      case "ingest_trickle" => IngestWork.run(c, out,
        topics = math.max(1, c.cpus / 2), partitions = 1, perBatch = 500)
      case "lake_cdc" => LakeWork.run(c, out)
      case "catalog_slice" => CatalogWork.run(c, out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        // Spark's non-daemon threads would keep a failed run alive
        e.printStackTrace()
        sys.exit(1)
    }
    out.e2e("rss_peak_mb") = (rssPeakMb, "MB")
    log("checks done")
    spark.stop()
    log("stopped")
    Files.writeString(c.work.resolve("result.json"), Json.result(out))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  private def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")
  def result(o: Main.Out): String =
    s"""{"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""problems":${o.problems.map(str).mkString("[", ",", "]")},""" +
      s""""e2e":${metrics(o.e2e)},"layer":${metrics(o.layer)},""" +
      s""""extra":${metrics(o.extra)}}"""
}

package graft.perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry}
import graft.operators.PlanCache

/** `catalog_slice`: a fixed list of catalog entries run through
  * `SparkEntry` over the tables in `perfbench/data/sf0.001`. An untimed
  * warm pass writes each entry's result for the DuckDB oracle compare done
  * by run.py; timed passes then run every entry with `graft.Bench.timeEntry`. */
object CatalogWork {
  // One entry per mechanism, sized so a run (warm pass, one timed pass and
  // the oracle compare) fits the benchmark's time budget: the whole
  // streaming and dedup groups plus a one-in-ten sample of the rest take
  // about 84 s a pass on 4 cores, most of it fixed per-entry cost.
  /** Streaming: a stateful dedup with a watermark. */
  val Stream = Seq("q120_stream_dedup")
  /** Dedup behind the broadcast gate. */
  val Dedup = Seq("q36_minhash_lsh")
  /** Relational: scan and aggregate, and a join-heavy TPC-H query. */
  val Sample = Seq("q01_counts", "q419_tpch_q18")
  val Names: Seq[String] = Sample ++ Dedup ++ Stream

  def run(c: Main.Ctx, out: Main.Out): SparkSession = {
    val entries = Names.map(n => SparkEntry.catalog.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no catalog entry $n")))
    val (spark, setupS) = Main.setUp(c) { (spark, _) =>
      // graft.Bench's untimed warm-up
      SparkEntry.queries("q01_counts")(spark, c.sfDir).count()
    }
    // warm pass: results for the oracle compare, and their row counts
    val dir = c.work.resolve("catalog")
    val rows = entries.map { q =>
      val p = dir.resolve(q.name).toString
      q.run(spark, c.sfDir).coalesce(1).write.mode("overwrite").parquet(p)
      PlanCache.releaseAll()
      spark.catalog.clearCache()
      spark.read.parquet(p).count()
    }.sum
    Files.writeString(dir.resolve("oracle_sql.json"), entries.map { q =>
      Json.str(q.name) + ":" + Json.str(q.oracle.getOrElse(
        throw new IllegalArgumentException(s"${q.name} has no oracle SQL")))
    }.mkString("{", ",", "}"))

    val tracer = new Tracer
    /** One phase: (pass seconds, per-entry seconds by name). */
    def phase(traced: Boolean) = {
      val times = mutable.ArrayBuffer.empty[(String, Double)]
      val passes = Main.rounds(c.seconds) { _ =>
        entries.map { q =>
          val (sec, err) =
            if (traced) tracer.span(s"entry ${q.name}", "queries")(Bench.timeEntry(spark, c.sfDir, q))
            else Bench.timeEntry(spark, c.sfDir, q)
          out.attempted += 1
          err.foreach { m => out.failed += 1; out.check(false, s"${q.name}: $m") }
          times += q.name -> sec
          sec
        }.sum
      }
      (passes, times.toIndexedSeq)
    }

    val (passes, times) = phase(traced = false)
    Main.log(times.map { case (n, t) => f"$n $t%.3f" }.mkString(", "))
    val perEntry = times.map(_._2)
    out.e2e("setup_s") = (setupS, "s")
    out.e2e("round_s") = (Stats.median(passes), "s")
    out.e2e("op_p50_ms") = (Stats.median(perEntry) * 1e3, "ms")
    out.e2e("rows_per_s") = (rows * passes.size / passes.sum, "rows/s")
    out.extra("catalog_s") = (Stats.median(passes), "s")
    out.extra("entry_p90_ms") = (Stats.quantile(perEntry, 0.9) * 1e3, "ms")
    out.extra("passes") = (passes.size.toDouble, "count")
    if (c.trace) {
      tracer.install(spark)
      val (tPasses, tTimes) = phase(traced = true)
      Thread.sleep(500)
      tracer.uninstall(spark)
      out.layer("trace.overhead_pct") =
        ((Stats.median(tPasses) / Stats.median(passes) - 1) * 100, "%")
      layers(out, tracer, tPasses.size, tTimes)
      tracer.writeSpans(c.work.resolve("spans.jsonl"))
    }
    spark
  }

  private def layers(out: Main.Out, tracer: Tracer, passes: Int,
      times: Seq[(String, Double)]): Unit = {
    val roots = tracer.roots
    val jobs = roots.flatMap(s => tracer.attachJobs(s))
    val progress = roots.flatMap { s =>
      tracer.progressIn(s).map { p =>
        tracer.add(s, s"trigger ${p.batchId}", "stream",
          p.endMs - p.durations.getOrElse("triggerExecution", 0.0), p.endMs)
        p
      }
    }
    val n = passes.toDouble
    def perPass(v: Double) = v / n
    def group(names: Seq[String]) = perPass(times.filter(t => names.contains(t._1)).map(_._2).sum)
    out.layer("catalog.plan_ms") = (perPass(roots.map(tracer.planMsIn).sum), "ms")
    out.layer("catalog.jobs") = (perPass(jobs.size), "count")
    out.layer("catalog.tasks") = (perPass(jobs.map(_.tasks).sum), "count")
    out.layer("catalog.shuffle_bytes") = (perPass(jobs.map(_.shuffleBytes).sum), "bytes")
    out.layer("catalog.spill_bytes") = (perPass(jobs.map(_.spillBytes).sum), "bytes")
    out.layer("catalog.stream_batches") = (perPass(progress.size), "count")
    out.layer("catalog.stream_state_commit_ms") = (perPass(progress.map(_.stateCommitMs).sum), "ms")
    out.layer("catalog.stream_planning_ms") =
      (perPass(progress.map(_.durations.getOrElse("queryPlanning", 0.0)).sum), "ms")
    out.layer("catalog.stream_wal_ms") =
      (perPass(progress.map(_.durations.getOrElse("walCommit", 0.0)).sum), "ms")
    out.layer("catalog.stream_s") = (group(Stream), "s")
    out.layer("catalog.dedup_s") = (group(Dedup), "s")
    out.layer("catalog.sample_s") = (group(Sample), "s")
    val nOps = math.max(1, roots.size).toDouble
    out.layer("spark.sched_delay_ms") =
      (jobs.map(j => j.firstTaskMs - j.submitMs).sum / math.max(1, jobs.size), "ms")
    out.layer("spark.tasks_per_op") = (jobs.map(_.tasks).sum / nOps, "count")
    out.layer("spark.executor_ms_per_op") = (jobs.map(_.executorMs).sum / nOps, "ms")
    out.layer("spark.gc_ms") = (jobs.map(_.gcMs).sum / nOps, "ms")
    out.layer("sql.plan_ms_per_op") = (roots.map(tracer.planMsIn).sum / nOps, "ms")
    SelfTime.report(out, tracer, nOps)
  }
}

package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.BenchKRec
import graft.ingest.{CachingSchemaProvider, FixtureSchemaProvider, RatecardSchema, SchemaProvider}
import graft.pipeline.KafkaToParquet

/** `ingest_bulk` and `ingest_trickle`: seeded Confluent-framed batches
  * through `KafkaToParquet.runStream`, one checkpointed stream per topic,
  * `MemoryStream` standing in for the Kafka source. Closed loop: one
  * client thread per topic sends its next batch only after
  * `processAllAvailable` returned; a round is one batch on every topic. */
object IngestWork {
  /** Untimed rounds in each set-up. */
  val WarmBatches = 2

  /** One topic's stream, as the pipeline's caller sees it. */
  final class Feed(spark: SparkSession, val topic: String, partitions: Int,
      schemas: SchemaProvider, val outDir: Path, ckpt: Path) {
    private val mem = {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      MemoryStream[BenchKRec](partitions)
    }
    val query = KafkaToParquet.runStream(mem.toDF(), topic, schemas,
      outDir.toString, ckpt.toString, "SRC_KEY_VAL",
      trigger = Trigger.ProcessingTime(0))
    /** Milliseconds from `addData` until `processAllAvailable` returns. */
    def feed(b: Gen.Batch): Double = {
      val t0 = System.nanoTime()
      mem.addData(b.records.toSeq)
      query.processAllAvailable()
      (System.nanoTime() - t0) / 1e6
    }
    def stop(): Unit = query.stop()
  }

  /** What the checks keep of a sent batch. */
  final case class Sent(total: Long, distinct: Long, fp: Gen.Fingerprint)

  /** `topics` streams, each fed `perBatch` records a batch, spread over
    * `partitions` source partitions (a Kafka topic's partitions). */
  def run(c: Main.Ctx, out: Main.Out, topics: Int, partitions: Int,
      perBatch: Int): SparkSession = {
    val names = (0 until topics).map(i => s"${RatecardSchema.topic}_t$i")
    val schemas = new CachingSchemaProvider(new FixtureSchemaProvider(
      names.map(_ -> RatecardSchema.schemaJson).toMap))
    def feeds(spark: SparkSession, dir: Path) = names.map { t =>
      new Feed(spark, t, partitions, schemas, dir.resolve("out"),
        dir.resolve("ckpt").resolve(t))
    }
    val pool = Executors.newFixedThreadPool(topics, (r: Runnable) => {
      val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
    })
    val tracer = new Tracer
    /** Sends one batch to every feed at once; returns each batch's ms. */
    def send(fs: Seq[Feed], batches: Seq[Gen.Batch], traced: Boolean): Seq[Double] =
      fs.zip(batches).map { case (f, b) =>
        pool.submit(new Callable[Double] {
          def call(): Double =
            if (traced) tracer.span(s"batch ${f.topic}", "ingest")(f.feed(b))
            else f.feed(b)
        })
      }.map(_.get())

    val warmBatches = (0 until WarmBatches).map(i =>
      names.map(t => Gen.ingestBatch(c.seed, t + "_warm", i, perBatch)))
    val sent = names.map(_ -> mutable.ArrayBuffer.empty[Sent]).toMap
    // set-up: start every topic's stream and send it untimed rounds; the
    // last set-up's streams are the measured ones, so timing starts warm
    var live: Seq[Feed] = Nil
    val (spark, setupS) = Main.setUp(c) { (spark, rep) =>
      val fs = feeds(spark, c.work.resolve(if (rep == 2) "ingest" else s"warm$rep"))
      try warmBatches.foreach(send(fs, _, traced = false))
      finally if (rep < 2) fs.foreach(_.stop())
      if (rep == 2) {
        live = fs
        warmBatches.foreach(bs => names.zip(bs).foreach { case (t, b) =>
          sent(t) += Sent(b.total, b.distinct, b.fingerprint) })
      }
    }
    var next = 0

    /** Runs one phase; returns (round seconds, per-batch ms). */
    def phase(traced: Boolean): (IndexedSeq[Double], IndexedSeq[Double]) = {
      val lat = mutable.ArrayBuffer.empty[Double]
      val rs = Main.rounds(c.seconds) { _ =>
        val batches = names.map(t => Gen.ingestBatch(c.seed, t, next, perBatch))
        next += 1
        val t0 = System.nanoTime()
        lat ++= send(live, batches, traced)
        val sec = (System.nanoTime() - t0) / 1e9
        names.zip(batches).foreach { case (t, b) =>
          sent(t) += Sent(b.total, b.distinct, b.fingerprint) }
        sec
      }
      (rs, lat.toIndexedSeq)
    }

    try {
      val (rs, lat) = phase(traced = false)
      Main.log(s"measured ${rs.size} rounds: ${lat.map(x => math.round(x)).mkString(" ")} ms")
      val records = rs.size.toLong * topics * perBatch
      out.e2e("setup_s") = (setupS, "s")
      out.e2e("round_s") = (Stats.median(rs), "s")
      out.e2e("op_p50_ms") = (Stats.median(lat), "ms")
        out.e2e("rows_per_s") = (records / rs.sum, "rows/s")
      out.extra("ingest_rps") = (records / rs.sum, "records/s")
      out.extra("batch_p50_ms") = (Stats.median(lat), "ms")
      out.extra("batch_p90_ms") = (Stats.quantile(lat, 0.9), "ms")
      out.extra("batches") = (lat.size.toDouble, "count")
      if (c.trace) {
        tracer.install(spark)
        val (trs, _) = phase(traced = true)
        Thread.sleep(500) // let the listener bus drain
        tracer.uninstall(spark)
        out.layer("trace.overhead_pct") =
          ((Stats.median(trs) / Stats.median(rs) - 1) * 100, "%")
        layers(c, out, tracer, live, spark, schemas)
        tracer.writeSpans(c.work.resolve("spans.jsonl"))
      }
    } finally {
      pool.shutdown()
      live.foreach(_.stop())
    }
    out.attempted = sent.values.map(_.size.toLong).sum
    check(spark, out, live, sent)
    spark
  }

  /** Which `writeBatch` step a job belongs to, from its SQL execution's
    * physical plan: the file write, the total/distinct aggregate, or the
    * one-row probe of `isEmpty`. */
  private def kind(tracer: Tracer, j: JobRec): String =
    Option(tracer.execPlans.get(j.execId)).getOrElse("") match {
      case p if p.contains("InsertIntoHadoopFsRelationCommand") => "write"
      case p if p.contains("count(distinct") => "counts"
      case p if p.contains("CollectLimit") => "isempty"
      case _ => "other"
    }

  /** Per-layer figures from the traced phase, per batch. */
  private def layers(c: Main.Ctx, out: Main.Out, tracer: Tracer,
      live: Seq[Feed], spark: SparkSession, schemas: SchemaProvider): Unit = {
    val runIds = live.map(f => f.topic -> f.query.runId.toString).toMap
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val roots = tracer.roots
    for (b <- roots) {
      val run = runIds(b.name.stripPrefix("batch "))
      val progress = tracer.progressIn(b, Some(run))
      val triggers = progress.map { p =>
        val d = p.durations
        Seq("triggerExecution" -> "stream.trigger_ms", "queryPlanning" -> "stream.planning_ms",
          "walCommit" -> "stream.wal_ms", "commitOffsets" -> "stream.commit_offsets_ms",
          "getBatch" -> "stream.get_batch_ms").foreach { case (k, m) => acc(m) += d.getOrElse(k, 0.0) }
        acc("addbatch") += d.getOrElse("addBatch", 0.0)
        tracer.add(b, s"trigger ${p.batchId}", "stream",
          p.endMs - d.getOrElse("triggerExecution", 0.0), p.endMs)
      }
      val jobs = tracer.jobsIn(b, Some(run))
      var jobMs = 0.0
      jobs.foreach { j =>
        val k = kind(tracer, j)
        val parent = triggers.find(t => j.submitMs >= t.startMs && j.submitMs <= t.endMs)
          .getOrElse(b)
        tracer.add(parent, s"job $k ${j.callSite}", if (k == "other") "spark" else "pipeline",
          j.submitMs, j.endMs, Map("tasks" -> j.tasks.toDouble))
        if (k != "other") acc(s"pipeline.${k}_ms") += j.endMs - j.submitMs
        if (k == "write") acc("pipeline.bytes_written") += j.outputBytes.toDouble
        jobMs += j.endMs - j.submitMs
        acc("spark.sched_delay_ms") += j.firstTaskMs - j.submitMs
        acc("spark.tasks_per_op") += j.tasks
        acc("spark.executor_ms_per_op") += j.executorMs
        acc("spark.gc_ms") += j.gcMs
      }
      acc("pipeline.rename_ms") += math.max(0.0, acc("addbatch") - jobMs)
      acc("addbatch") = 0.0
      acc("pipeline.jobs_per_batch") += jobs.size
      acc("jobs") += jobs.size
    }
    val n = math.max(1, roots.size).toDouble
    val nJobs = math.max(1.0, acc("jobs"))
    Seq("stream.trigger_ms", "stream.planning_ms", "stream.wal_ms",
      "stream.commit_offsets_ms", "stream.get_batch_ms", "pipeline.isempty_ms",
      "pipeline.counts_ms", "pipeline.write_ms", "pipeline.rename_ms").foreach { m =>
      out.layer(m) = (acc(m) / n, "ms") }
    out.layer("pipeline.jobs_per_batch") = (acc("pipeline.jobs_per_batch") / n, "count")
    out.layer("pipeline.bytes_written") = (acc("pipeline.bytes_written") / n, "bytes")
    out.layer("spark.sched_delay_ms") = (acc("spark.sched_delay_ms") / nJobs, "ms")
    out.layer("spark.tasks_per_op") = (acc("spark.tasks_per_op") / n, "count")
    out.layer("spark.executor_ms_per_op") = (acc("spark.executor_ms_per_op") / n, "ms")
    out.layer("spark.gc_ms") = (acc("spark.gc_ms") / n, "ms")
    SelfTime.report(out, tracer, n)
    out.layer("functions.decode_us_per_rec") =
      (decodeUsPerRec(spark, c, live.head.topic, schemas), "us")
  }

  /** `decodeRecords` alone, materialized to the `noop` sink over seeded
    * batches of the workload's topic. */
  def decodeUsPerRec(spark: SparkSession, c: Main.Ctx, topic: String,
      schemas: SchemaProvider): Double = {
    import spark.implicits._
    val batches = (0 until 3).map(i => Gen.ingestBatch(c.seed, topic + "_decode", i, 20000))
    val times = batches.map { b =>
      val df = b.records.toSeq.toDF()
      val t0 = System.nanoTime()
      KafkaToParquet.decodeRecords(df, topic, schemas)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e3 / b.records.length
    }
    Stats.median(times)
  }

  /** Content fingerprint of each Parquet file (by file name), computed by
    * Spark tasks; the columns must be the writer schema's, in order. */
  private def fingerprints(spark: SparkSession, files: Seq[Path]): Map[String, Gen.Fingerprint] = {
    if (files.isEmpty) return Map.empty
    val df = spark.read.parquet(files.map(_.toString): _*)
    require(df.columns.toSeq == Gen.fieldNames.toSeq,
      s"landed columns ${df.columns.mkString(",")} are not the writer schema's")
    val n = df.columns.length
    df.withColumn("_file", org.apache.spark.sql.functions.input_file_name()).rdd
      .mapPartitions { rows =>
        val acc = mutable.Map.empty[String, Gen.Fingerprint]
        rows.foreach { r =>
          val v = Array.tabulate(n)(i => if (r.isNullAt(i)) null else r.get(i).toString)
          val f = r.getString(n)
          acc(f) = acc.getOrElse(f, Gen.Fingerprint.empty) + Gen.Fingerprint(1L, Gen.Fingerprint.ofRow(v))
        }
        acc.iterator
      }
      .reduceByKey(_ + _).collect()
      .map { case (f, fp) => f.substring(f.lastIndexOf('/') + 1) -> fp }.toMap
  }

  /** Every topic landed exactly its batches: one file per batch, in send
    * order, its name carrying the generator's total and distinct, its
    * rows equal to the encoded values. */
  private def check(spark: SparkSession, out: Main.Out, live: Seq[Feed],
      sent: Map[String, mutable.ArrayBuffer[Sent]]): Unit = {
    var bytes = 0L
    var records = 0L
    for (f <- live) {
      val want = sent(f.topic)
      val Name = (java.util.regex.Pattern.quote(f.topic) +
        """_(\d+\.\d+)_(\d+)_(\d+)\.parquet""").r
      val root = f.outDir.resolve(f.topic)
      val files = if (!Files.isDirectory(root)) Seq.empty else
        Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
          .filterNot { p =>
            // hidden checksum sidecars of the local file system
            val n = p.getFileName.toString
            n.startsWith(".") && n.endsWith(".crc")
          }.toSeq
      val named = files.flatMap { p =>
        p.getFileName.toString match {
          case Name(epoch, total, distinct) =>
            Some((epoch.toDouble, p, total.toLong, distinct.toLong))
          case other => out.check(false, s"${f.topic}: unexpected file $other"); None
        }
      }.sortBy(_._1)
      out.check(named.size == want.size,
        s"${f.topic}: ${named.size} files landed for ${want.size} batches")
      val landed = fingerprints(spark, named.map(_._2))
      for (((_, p, total, distinct), s) <- named.zip(want)) {
        out.check(total == s.total && distinct == s.distinct,
          s"$p: name counts $total/$distinct, generated ${s.total}/${s.distinct}")
        out.check(landed.get(p.getFileName.toString).contains(s.fp),
          s"$p: landed rows differ from the generated batch")
        bytes += Files.size(p)
        records += s.total
      }
    }
    out.extra("out_bytes_per_rec") = (bytes.toDouble / math.max(1L, records), "bytes")
  }
}

/** Self time of each traced layer, per operation. */
object SelfTime {
  val Layers = Seq("client", "stream", "pipeline", "lake", "queries", "spark")
  def report(out: Main.Out, tracer: Tracer, ops: Double): Unit = {
    val self = tracer.selfTimeByLayer
    val named = self.map { case (l, v) =>
      (if (l == "ingest" || l == "bench") "client" else l) -> v }
      .groupMapReduce(_._1)(_._2)(_ + _)
    Layers.foreach(l => out.layer(s"self.${l}_ms") = (named.getOrElse(l, 0.0) / ops, "ms"))
  }
}

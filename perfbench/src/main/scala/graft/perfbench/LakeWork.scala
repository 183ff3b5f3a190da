package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ingest.{CachingSchemaProvider, FixtureSchemaProvider, RatecardSchema}
import graft.pipeline.KafkaToParquet

/** `lake_cdc`: decoded CDC change batches `MERGE`d into a file-backed,
  * merge-on-read graftlake table, each merge followed by a key-range
  * read. The overlay budget is set so budget-triggered compaction runs
  * every few merges. Every read and the final table are compared with an
  * in-memory replay of the same change batches. */
object LakeWork {
  val InitialKeys = 20000
  val KeySpace = 24000
  val ChangesPerBatch = 500
  val RangeKeys = 1000
  /** Merges per round. A merge of 500 changes adds about 760 to 870 overlay
    * rows (an update is written as a delete and an insert, a delete of an
    * absent key adds none), so with this budget every third merge trips
    * budget-triggered compaction and every round holds exactly one. */
  val MergesPerRound = 3
  val OverlayBudget = 2000
  val Topic = RatecardSchema.topic + "_cdc"

  /** Table columns, all generator fields, key first (the merge-on-read
    * row id). */
  val cols: Seq[String] = Seq("SRC_KEY_VAL", "RATE_CARD_ID", "RATE_CARD_NM",
    "RATE_CARD_DESC", "BASE_UNIT_LENGTH", "LAST_MODIFIED_DT", "SRC_COMMIT_DT_UTC")
  private val colIdx = cols.map(Gen.fieldNames.indexOf(_)).toArray
  private val isLong = Set("RATE_CARD_ID", "BASE_UNIT_LENGTH")
  val schema: StructType = StructType(cols.map(c =>
    StructField(c, if (isLong(c)) LongType else StringType, nullable = true)))

  private def project(v: Array[String]): Array[String] = colIdx.map(v(_))

  private val mergeSql =
    s"""MERGE INTO %s t USING cdc_src s ON t.SRC_KEY_VAL = s.SRC_KEY_VAL
       |WHEN MATCHED AND s.SRC_CDC_OPER_NM = 'DELETE' THEN DELETE
       |WHEN MATCHED THEN UPDATE SET ${cols.tail.map(c => s"$c = s.$c").mkString(", ")}
       |WHEN NOT MATCHED AND s.SRC_CDC_OPER_NM <> 'DELETE' THEN
       |  INSERT (${cols.mkString(", ")}) VALUES (${cols.map("s." + _).mkString(", ")})
       |""".stripMargin

  private val schemas = new CachingSchemaProvider(
    new FixtureSchemaProvider(Map(Topic -> RatecardSchema.schemaJson)))

  /** The lake as the benchmark's own replay sees it. */
  final class Replay {
    val rows = new java.util.TreeMap[String, Array[String]]()
    def apply(b: Gen.Batch): Unit = b.rows.foreach { v =>
      if (v(Gen.OpField) == "DELETE") rows.remove(v(Gen.KeyField))
      else rows.put(v(Gen.KeyField), project(v))
    }
    def range(lo: String, hi: String): Gen.Fingerprint =
      Gen.Fingerprint.of(rows.subMap(lo, hi).values().iterator().asScala)
    def all: Gen.Fingerprint = Gen.Fingerprint.of(rows.values().iterator().asScala)
  }

  private def fingerprint(rs: Array[Row]): Gen.Fingerprint =
    Gen.Fingerprint.of(rs.iterator.map(r =>
      Array.tabulate(r.length)(i => if (r.isNullAt(i)) null else r.get(i).toString)))

  def merge(spark: SparkSession, table: String, b: Gen.Batch): Unit = {
    import spark.implicits._
    KafkaToParquet.decodeRecords(b.records.toSeq.toDF(), Topic, schemas)
      .createOrReplaceTempView("cdc_src")
    spark.sql(mergeSql.format(table))
  }

  def read(spark: SparkSession, table: String, lo: String, hi: String): Array[Row] =
    spark.sql(s"SELECT ${cols.mkString(", ")} FROM $table " +
      s"WHERE SRC_KEY_VAL >= '$lo' AND SRC_KEY_VAL < '$hi'").collect()

  def create(spark: SparkSession, table: String, seed: Long): Replay = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table (${schema.fields.map(f =>
      s"${f.name} ${f.dataType.sql}").mkString(", ")}) TBLPROPERTIES(" +
      "'graft.storage'='files', 'graft.mode'='delta', " +
      s"'graft.overlaybudget'='$OverlayBudget')")
    val initial = Gen.initialRows(seed, InitialKeys)
    val rows = initial.iterator.map(v => Row.fromSeq(project(v).zip(cols).map {
      case (x, c) => if (x != null && isLong(c)) java.lang.Long.valueOf(x) else x
    }.toSeq)).toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      spark.sparkContext.defaultParallelism), schema).writeTo(table).append()
    val replay = new Replay
    initial.foreach(v => replay.rows.put(v(Gen.KeyField), project(v)))
    replay
  }

  def run(c: Main.Ctx, out: Main.Out): SparkSession = {
    val table = "graftlake.bench.cdc"
    val warm = (0 until MergesPerRound).map(i =>
      Gen.changeBatch(c.seed, Topic + "_warm", i, ChangesPerBatch, KeySpace))
    var replay: Replay = null
    // set-up: create and load the table, then one untimed round
    val (spark, setupS) = Main.setUp(c) { (spark, rep) =>
      val t = if (rep == 2) table else s"graftlake.bench.cdc_warm$rep"
      replay = create(spark, t, c.seed)
      warm.foreach { b =>
        merge(spark, t, b)
        replay(b)
        read(spark, t, Gen.key(0), Gen.key(RangeKeys))
      }
      if (rep < 2) spark.sql(s"DROP TABLE $t")
    }
    val rnd = new java.util.SplittableRandom(c.seed ^ 0x5DEECE66DL)
    val tracer = new Tracer
    var next = 0
    val lakeDir = c.work.resolve("lake").resolve("bench.cdc")
    val atRead = mutable.ArrayBuffer.empty[(Int, Long)] // (delta files, overlay rows)

    /** One phase: (round seconds, merge ms, read ms). */
    def phase(traced: Boolean) = {
      val mergeMs = mutable.ArrayBuffer.empty[Double]
      val readMs = mutable.ArrayBuffer.empty[Double]
      def timed(name: String)(body: => Unit): Double = {
        val t0 = System.nanoTime()
        if (traced) tracer.span(name, "lake")(body) else body
        (System.nanoTime() - t0) / 1e6
      }
      val rs = Main.rounds(c.seconds) { _ =>
        (0 until MergesPerRound).map { _ =>
          val b = Gen.changeBatch(c.seed, Topic, next, ChangesPerBatch, KeySpace)
          next += 1
          val lo = rnd.nextInt(KeySpace - RangeKeys)
          val (kLo, kHi) = (Gen.key(lo), Gen.key(lo + RangeKeys))
          val m = timed("merge")(merge(spark, table, b))
          replay(b)
          if (traced) atRead += manifestOverlay(lakeDir.resolve("manifest.json"))
          var got: Array[Row] = null
          val r = timed("read") { got = read(spark, table, kLo, kHi) }
          out.check(fingerprint(got) == replay.range(kLo, kHi),
            s"read [$kLo, $kHi) after merge ${next - 1} differs from the replay")
          mergeMs += m; readMs += r
          (m + r) / 1e3
        }.sum
      }
      (rs, mergeMs.toIndexedSeq, readMs.toIndexedSeq)
    }

    val (rs, mergeMs, readMs) = phase(traced = false)
    Main.log(s"merges ms: ${mergeMs.map(math.round).mkString(" ")}; reads ms: ${readMs.map(math.round).mkString(" ")}")
    out.e2e("setup_s") = (setupS, "s")
    out.e2e("round_s") = (Stats.median(rs), "s")
    // the consumer's operation: apply one change batch, read a range back
    out.e2e("op_p50_ms") = (Stats.median(mergeMs.zip(readMs).map(p => p._1 + p._2)), "ms")
    out.e2e("rows_per_s") = (rs.size * ChangesPerBatch / rs.sum, "rows/s")
    out.extra("merge_p50_ms") = (Stats.median(mergeMs), "ms")
    out.extra("merge_p90_ms") = (Stats.quantile(mergeMs, 0.9), "ms")
    out.extra("read_p50_ms") = (Stats.median(readMs), "ms")
    out.extra("read_p90_ms") = (Stats.quantile(readMs, 0.9), "ms")
    out.extra("merges") = (mergeMs.size.toDouble, "count")
    if (c.trace) {
      val firstVersion = manifestVersion(lakeDir.resolve("manifest.json"))
      tracer.install(spark)
      val (trs, tMergeMs, tReadMs) = phase(traced = true)
      Thread.sleep(500)
      tracer.uninstall(spark)
      out.layer("trace.overhead_pct") = ((Stats.median(trs) / Stats.median(rs) - 1) * 100, "%")
      layers(c, out, tracer, spark, lakeDir, firstVersion, atRead.toSeq, tMergeMs, tReadMs)
      tracer.writeSpans(c.work.resolve("spans.jsonl"))
    }
    out.attempted = 2L * next
    val all = spark.sql(s"SELECT ${cols.mkString(", ")} FROM $table").collect()
    out.check(fingerprint(all) == replay.all,
      s"final table (${all.length} rows) differs from the replay (${replay.rows.size} rows)")
    val live = liveBytes(lakeDir)
    out.extra("lake_bytes_per_row") = (live.toDouble / math.max(1, replay.rows.size), "bytes")
    spark
  }

  private val mapper = new ObjectMapper()
  private def manifest(p: Path): JsonNode = mapper.readTree(Files.readString(p))
  private def manifestVersion(p: Path): Int = manifest(p).get("version").asInt
  private def manifestOverlay(p: Path): (Int, Long) = {
    val d = manifest(p).get("deltas").elements().asScala.toSeq
    (d.size, d.map(_.get("rows").asLong).sum)
  }
  private def fileNames(m: JsonNode): Set[String] =
    (m.get("files").elements().asScala ++ m.get("deltas").elements().asScala)
      .map(_.get("name").asText).toSet

  /** Bytes of every file the current manifest references. */
  def liveBytes(dir: Path): Long =
    fileNames(manifest(dir.resolve("manifest.json"))).toSeq
      .map(n => Files.size(dir.resolve(n))).sum

  private def layers(c: Main.Ctx, out: Main.Out, tracer: Tracer,
      spark: SparkSession, dir: Path, firstVersion: Int,
      atRead: Seq[(Int, Long)], mergeMs: Seq[Double], readMs: Seq[Double]): Unit = {
    val roots = tracer.roots
    val merges = roots.filter(_.name == "merge")
    val reads = roots.filter(_.name == "read")
    val mergeJobs = merges.map(s => tracer.attachJobs(s))
    val readJobs = reads.map(s => tracer.attachJobs(s))
    val allJobs = mergeJobs.flatten ++ readJobs.flatten
    val nOps = math.max(1, roots.size).toDouble
    // the commit history of the traced phase, from the versioned manifests
    val last = manifestVersion(dir.resolve("manifest.json"))
    val versions = (firstVersion to last).flatMap { v =>
      val p = dir.resolve(s"manifest-v$v.json")
      if (Files.exists(p)) Some(manifest(p)) else None
    }
    var added = 0; var removed = 0; var compactions = 0; var compactMs = 0.0
    versions.sliding(2).filter(_.size == 2).foreach { case Seq(a, b) =>
      val (fa, fb) = (fileNames(a), fileNames(b))
      added += (fb -- fa).size; removed += (fa -- fb).size
      if (a.get("deltas").size > 0 && b.get("deltas").size == 0) {
        compactions += 1
        compactMs += b.get("commitMs").asDouble - a.get("commitMs").asDouble
      }
    }
    val nMerges = math.max(1, merges.size).toDouble
    out.layer("lake.merge_jobs") = (mergeJobs.map(_.size).sum / nMerges, "count")
    out.layer("lake.files_added") = (added / nMerges, "count")
    out.layer("lake.files_removed") = (removed / nMerges, "count")
    out.layer("lake.compactions") = (compactions.toDouble, "count")
    out.layer("lake.compact_ms") = (compactMs / math.max(1, compactions), "ms")
    out.layer("lake.delta_files") = (atRead.map(_._1).sum.toDouble / math.max(1, atRead.size), "count")
    out.layer("lake.overlay_rows") = (atRead.map(_._2).sum.toDouble / math.max(1, atRead.size), "count")
    out.layer("lake.read_tasks") =
      (readJobs.map(_.map(_.tasks).sum).sum.toDouble / math.max(1, reads.size), "count")
    out.layer("lake.merge_p50_ms") = (Stats.median(mergeMs), "ms")
    out.layer("lake.read_p50_ms") = (Stats.median(readMs), "ms")
    out.layer("lake.live_bytes") = (liveBytes(dir).toDouble, "bytes")
    out.layer("spark.sched_delay_ms") =
      (allJobs.map(j => j.firstTaskMs - j.submitMs).sum / math.max(1, allJobs.size), "ms")
    out.layer("spark.tasks_per_op") = (allJobs.map(_.tasks).sum / nOps, "count")
    out.layer("spark.executor_ms_per_op") = (allJobs.map(_.executorMs).sum / nOps, "ms")
    out.layer("spark.gc_ms") = (allJobs.map(_.gcMs).sum / nOps, "ms")
    out.layer("sql.plan_ms_per_op") = (roots.map(tracer.planMsIn).sum / nOps, "ms")
    SelfTime.report(out, tracer, nOps)
    out.layer("functions.decode_us_per_rec") =
      (IngestWork.decodeUsPerRec(spark, c, Topic, schemas), "us")
  }
}

package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryEncoder, EncoderFactory}

import graft.BenchKRec
import graft.ingest.RatecardSchema

/** Seeded generator of Confluent wire-format ratecard records: magic byte
  * 0, a 4-byte big-endian schema id, then the Avro binary body written
  * with the Avro library against `RatecardSchema.schemaJson`.
  *
  * Every value is kept on the generator side as a plain string (null for
  * a null union branch), so the checks compare what the program landed
  * with what was encoded without trusting the program's decoder. */
object Gen {
  val schema: Schema = new Schema.Parser().parse(RatecardSchema.schemaJson)
  val fieldNames: Array[String] =
    (0 until schema.getFields.size).map(schema.getFields.get(_).name).toArray
  private val isLong: Array[Boolean] = fieldNames.indices.map { i =>
    val s = schema.getFields.get(i).schema
    val t = if (s.getType == Schema.Type.UNION)
      s.getTypes.get(1).getType else s.getType
    t == Schema.Type.LONG
  }.toArray
  val KeyField: Int = fieldNames.indexOf("SRC_KEY_VAL")
  val OpField: Int = fieldNames.indexOf("SRC_CDC_OPER_NM")
  val SchemaId = 391

  /** One generated batch: per-record field values (string form, null for
    * a null branch), the framed Kafka records, and the generator's own
    * counts and order-free content fingerprint. */
  final case class Batch(rows: Array[Array[String]], records: Array[BenchKRec],
      total: Long, distinct: Long, fingerprint: Fingerprint)

  /** Order-free multiset fingerprint of rows: count plus wrap-around sum
    * of a 64-bit per-row hash over the canonical string form. */
  final case class Fingerprint(count: Long, sum: Long) {
    def +(o: Fingerprint): Fingerprint = Fingerprint(count + o.count, sum + o.sum)
  }
  object Fingerprint {
    val empty: Fingerprint = Fingerprint(0L, 0L)
    def ofRow(values: Array[String]): Long = {
      val sb = new java.lang.StringBuilder
      values.foreach { v =>
        if (v == null) sb.append("\u0001N") else sb.append(v)
        sb.append('\u0000')
      }
      val s = sb.toString
      val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
      (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
    }
    def of(rows: Iterator[Array[String]]): Fingerprint =
      rows.foldLeft(empty)((f, r) => f + Fingerprint(1L, ofRow(r)))
  }

  private val words = Array("rate", "card", "spot", "prime", "late", "news",
    "sport", "zone", "east", "west", "café", "über", "niño", "€uro", "Ω")

  private def text(r: SplittableRandom, maxLen: Int): String = {
    val n = r.nextInt(maxLen + 1)
    val sb = new java.lang.StringBuilder
    while (sb.length < n) {
      if (sb.length > 0) sb.append(' ')
      sb.append(words(r.nextInt(words.length)))
    }
    sb.toString
  }

  private def pad(sb: java.lang.StringBuilder, v: Int, width: Int): Unit = {
    val s = Integer.toString(v)
    var i = s.length
    while (i < width) { sb.append('0'); i += 1 }
    sb.append(s)
  }

  private def ts(r: SplittableRandom): String = {
    val sb = new java.lang.StringBuilder("2024-")
    pad(sb, 1 + r.nextInt(12), 2); sb.append('-'); pad(sb, 1 + r.nextInt(28), 2)
    sb.append(' '); pad(sb, r.nextInt(24), 2); sb.append(':')
    pad(sb, r.nextInt(60), 2); sb.append(':'); pad(sb, r.nextInt(60), 2)
    sb.toString
  }

  /** Zero-padded, so key order is numeric order. */
  def key(k: Int): String = {
    val sb = new java.lang.StringBuilder("RC")
    pad(sb, k, 8)
    sb.toString
  }

  /** Field values of one record for key `k` with CDC operation `op`.
    * Optional fields take their null branch about one time in eight. */
  def values(r: SplittableRandom, k: Int, op: String): Array[String] = {
    val out = new Array[String](fieldNames.length)
    var i = 0
    while (i < fieldNames.length) {
      out(i) = fieldNames(i) match {
        case "SRC_KEY_VAL" => key(k)
        case "SRC_CDC_OPER_NM" => op
        case "SRC_COMMIT_DT_UTC" | "TRG_CRT_DT_PART_UTC" => ts(r)
        case "SRC_SCHEMA_NM" => "LNDCDCADSRTCRD"
        case _ if r.nextInt(8) == 0 => null
        case "RATE_CARD_ID" => k.toString
        case "LAST_MODIFIED_DT" => ts(r)
        case "RATE_CARD_DESC" | "RATE_CARD_COMMENT_TXT" => text(r, 160)
        case _ if isLong(i) => (r.nextLong() >> r.nextInt(64)).toString
        case _ => text(r, 24)
      }
      i += 1
    }
    out
  }

  private final class Encoder {
    val out = new ByteArrayOutputStream(512)
    var enc: BinaryEncoder = null
    val writer = new GenericDatumWriter[GenericRecord](schema)
    def frame(values: Array[String]): Array[Byte] = {
      val rec = new GenericData.Record(schema)
      var i = 0
      while (i < values.length) {
        val v = values(i)
        rec.put(i, if (v == null) null else if (isLong(i)) java.lang.Long.valueOf(v) else v)
        i += 1
      }
      out.reset()
      out.write(0)
      out.write(SchemaId >>> 24); out.write(SchemaId >>> 16)
      out.write(SchemaId >>> 8); out.write(SchemaId)
      enc = EncoderFactory.get().binaryEncoder(out, enc)
      writer.write(rec, enc)
      enc.flush()
      out.toByteArray
    }
  }

  private def frame(topic: String, firstOffset: Long,
      rows: Array[Array[String]]): Array[BenchKRec] = {
    val e = new Encoder
    val ts = new java.sql.Timestamp(1700000000000L)
    rows.zipWithIndex.map { case (v, i) =>
      BenchKRec(topic, 0, firstOffset + i, ts, "CreateTime",
        v(KeyField).getBytes(UTF_8), e.frame(v))
    }
  }

  private def batchOf(topic: String, firstOffset: Long,
      rows: Array[Array[String]]): Batch = Batch(rows,
    frame(topic, firstOffset, rows), rows.length.toLong,
    rows.iterator.map(_(KeyField)).toSet.size.toLong,
    Fingerprint.of(rows.iterator))

  private def rng(seed: Long, stream: String, index: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^
      stream.hashCode.toLong * 0xC2B2AE3D27D4EB4FL ^ index)

  /** Ingest batch `index` of `topic`: `n` records whose keys repeat (keys
    * drawn from n/2 values), so distinct is below total. */
  def ingestBatch(seed: Long, topic: String, index: Int, n: Int): Batch = {
    val r = rng(seed, topic, index)
    val keySpace = math.max(1, n / 2)
    val ops = Array("INSERT", "UPDATE", "UPDATE", "DELETE")
    val rows = Array.fill(n) {
      values(r, r.nextInt(keySpace), ops(r.nextInt(ops.length)))
    }
    batchOf(topic, index.toLong * n, rows)
  }

  /** CDC change batch `index`: `n` DISTINCT keys from `[0, keySpace)`
    * (MERGE allows one source row per target row), each an INSERT,
    * UPDATE or DELETE; the merge decides by key presence, the op column
    * only marks deletes. */
  def changeBatch(seed: Long, topic: String, index: Int, n: Int,
      keySpace: Int): Batch = {
    val r = rng(seed, topic, 1000000L + index)
    val keys = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (keys.size < n) keys += r.nextInt(keySpace)
    val rows = keys.iterator.map { k =>
      values(r, k, if (r.nextInt(5) == 0) "DELETE" else "UPDATE")
    }.toArray
    batchOf(topic, index.toLong * n, rows)
  }

  /** Initial lake contents: one row per key in `[0, n)`. */
  def initialRows(seed: Long, n: Int): Array[Array[String]] = {
    val r = rng(seed, "lake-initial", 0)
    Array.tabulate(n)(k => values(r, k, "INSERT"))
  }
}

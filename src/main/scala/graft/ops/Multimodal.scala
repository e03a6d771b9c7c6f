package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: opaque binary payloads + typed metadata,
  * with decode / feature-extract / resize stages over `mapPartitions`.
  *
  * The decode is REAL: payloads are genuine binary P6 PPM images and
  * [[Ppm.decode]] is a full netpbm-spec parser (header tokens, comment
  * handling, raw RGB plane) — the feature and resize queries compute
  * over genuinely decoded pixels, and a parser bug breaks their oracle
  * hashes. The container ships no image corpus, so the images
  * themselves are deterministically GENERATED from the documents table
  * (dimensions and pixel bytes are integer formulas over doc_id and
  * the text bytes) — which is exactly what makes the decoded-pixel
  * oracles possible: DuckDB replays the pixel formula arithmetically,
  * Spark must round-trip it through encode → parse → decode to match.
  *
  * Scale: binary payloads ride the same columnar scan as everything
  * else; decode/extract is mapPartitions (no shuffle), parallel per
  * input split, with per-partition init where a real codec would load
  * its tables; output per row is bounded regardless of payload size.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class ImageFeatures(doc_id: Long, w: Long, h: Long,
    sum_r: Long, sum_g: Long, sum_b: Long)

  /** One deterministic P6 image per document. Dimensions vary per doc
    * (w ∈ 8..16, h ∈ 6..10); sample byte i of the row-major RGB plane
    * is `(doc_id·131 + i·7 + text[i mod len]) mod 256`. Every term is
    * plain integer arithmetic over table columns, so the ORACLE can
    * compute any decoded-pixel statistic without decoding — while the
    * Spark side must actually parse the encoded payload to get it.
    */
  def imagesOf(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val tb = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val w = (8 + id % 9).toInt
          val h = (6 + id % 5).toInt
          val px = new Array[Byte](w * h * 3)
          var i = 0
          while (i < px.length) {
            px(i) = ((id * 131 + i.toLong * 7 + (tb(i % tb.length) & 0xff))
              % 256).toByte
            i += 1
          }
          MediaRow(id, Ppm.encode(w, h, px))
        }
      }
  }

  /** Per-partition decode + feature extraction over encoded images —
    * the mapPartitions batch shape a GPU/codec stage uses (amortized
    * per-partition init, streaming iterator). Features are per-channel
    * integer pixel sums: exact, order-free, oracle-replayable.
    */
  def extractFeatures(spark: SparkSession, dir: String): Dataset[ImageFeatures] =
    featuresOf(imagesOf(spark, dir))

  /** Same decode + feature pass over ANY (doc_id, P6 payload) frame —
    * the entry for user-supplied media columns.
    */
  def featuresOf(images: Dataset[MediaRow]): Dataset[ImageFeatures] = {
    import images.sparkSession.implicits._
    images.mapPartitions { rows =>
      // per-partition decoder init would go here (codec tables etc.)
      rows.map { r =>
        val img = Ppm.decode(r.payload)
        val (sr, sg, sb) = img.channelSums
        ImageFeatures(r.doc_id, img.w.toLong, img.h.toLong, sr, sg, sb)
      }
    }
  }

  /** Decoded-sample stats over ANY (doc_id, WAV payload) frame — the
    * audio twin of [[featuresOf]].
    */
  def audioStatsOf(wavs: Dataset[MediaRow]): DataFrame = {
    import wavs.sparkSession.implicits._
    wavs.mapPartitions { rows =>
      rows.map { r =>
        val a = Wav.decode(r.payload)
        val (sum, sumAbs, peak) = a.stats
        (r.doc_id, a.sampleRate.toLong, a.samples.length.toLong,
          sum, sumAbs, peak)
      }
    }.toDF("doc_id", "sr", "n_samples", "sum_s", "sum_abs", "peak")
  }

  /** Oracle-checkable metadata slice of the multimodal pipeline: byte
    * lengths, first byte, payload digest — everything DuckDB can compute
    * on the same bytes.
    */
  def qMmMeta(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.documentsSpread(spark, dir)
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("byte_len"),
        ascii(substring(col("text"), 1, 1)).cast("long").as("first_byte"),
        md5(col("text").cast("binary")).as("payload_md5"))
      .orderBy("doc_id")
  }

  /** Decoded-pixel features as a driver-checkable query: the DuckDB
    * twin evaluates the generator formula directly; this side has to
    * parse the P6 header and walk the decoded plane to agree.
    */
  def qMmFeatures(spark: SparkSession, dir: String): DataFrame = {
    extractFeatures(spark, dir)
      .select(col("doc_id"), col("w"), col("h"),
        col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy("doc_id")
  }

  /** Real pixel-space resize through the decode pipeline: every image
    * decoded and nearest-neighbor resampled to 4×4 (bounded output per
    * row regardless of input dimensions — the shape a real image-resize
    * stage has). Emits spot samples plus the full resized-plane sum,
    * all integer, all replayed by the oracle from the generator
    * formula + the same floor-resampling arithmetic.
    */
  def qMmResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imagesOf(spark, dir)
      .mapPartitions { rows =>
        rows.map { r =>
          val img = Ppm.decode(r.payload).resize(4, 4)
          val (sr, sg, sb) = img.channelSums
          (r.doc_id, img.sample(0, 0, 0).toLong, img.sample(3, 1, 1).toLong,
            img.sample(2, 3, 2).toLong, sr + sg + sb)
        }
      }
      .toDF("doc_id", "p00_r", "p31_g", "p23_b", "px_sum")
      .orderBy("doc_id")
  }

  /** One deterministic mono 16-bit PCM WAV per document — the audio
    * twin of [[imagesOf]]. Sample count and rate vary per doc
    * (n ∈ 120..319, rate ∈ {8000, 12000, 16000}); sample i is
    * `((doc_id·37 + i·13 + text[i mod len]) mod 4001) − 2000`. Every
    * third doc's file carries an odd-length `JUNK` chunk before `data`,
    * so the decoder's chunk walk and RIFF pad handling are on the oracle
    * path, not just the happy 44-byte layout.
    */
  def wavsOf(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val tb = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val n = (120 + id % 200).toInt
          val sr = (8000 + (id % 3) * 4000).toInt
          val s = new Array[Short](n)
          var i = 0
          while (i < n) {
            s(i) = (((id * 37 + i.toLong * 13 + (tb(i % tb.length) & 0xff))
              % 4001) - 2000).toShort
            i += 1
          }
          MediaRow(id, Wav.encode(sr, s, withJunk = id % 3 == 0))
        }
      }
  }

  /** Decoded-sample audio features: rate, length, sum, absolute sum,
    * peak — all integer, all order-free. The DuckDB twin replays the
    * generator formula arithmetically; this side must parse the RIFF
    * chunk table (including the junk chunk + pad byte) and read the
    * little-endian plane to agree.
    */
  def qMmAudio(spark: SparkSession, dir: String): DataFrame =
    audioStatsOf(wavsOf(spark, dir)).orderBy("doc_id")

  /** Real sample-space resample through the decode pipeline: every
    * file decoded and decimated 3× (bounded output per row — the shape
    * an audio feature-extraction stage has). Emits the decimated
    * length/rate, plane sum, and first/last samples, all replayed by
    * the oracle from the generator formula at stride-3 indices.
    */
  def qMmAudioResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    wavsOf(spark, dir).mapPartitions { rows =>
      rows.map { r =>
        val a = Wav.decode(r.payload).decimate(3)
        val (sum, _, _) = a.stats
        (r.doc_id, a.sampleRate.toLong, a.samples.length.toLong, sum,
          a.samples.head.toLong, a.samples.last.toLong)
      }
    }.toDF("doc_id", "sr_out", "n_out", "sum_d", "s_first", "s_last")
      .orderBy("doc_id")
  }

  /** Frame sampling over the binary payload: fixed 256-byte "frames",
    * stride-4 sampling (every 4th frame) — the video-frame-sample batch
    * shape with byte-slicing standing in for the frame split. The
    * slicing itself is real (`substring` on BINARY), so frame counts and
    * the digest of the first sampled frame are oracle-checkable on the
    * same bytes.
    */
  def qMmFrames(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.documentsSpread(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("n_frames", expr("length(payload) div 256"))
      .filter(col("n_frames") > 0)
      .select(
        col("doc_id"), col("n_frames"),
        expr("CAST(ceil(n_frames / 4.0) AS BIGINT)").as("n_sampled"),
        md5(expr("substring(payload, 1, 256)")).as("frame0_md5"))
      .orderBy("doc_id")
  }

  /** The generator formula for sample byte `i`, as DuckDB SQL. */
  private def pxSql(i: String): String =
    s"(doc_id * 131 + ($i) * 7 + ascii(substring(text, " +
      s"CAST(($i) % length(text) AS INT) + 1, 1))) % 256"

  /** The audio generator formula for sample `i`, as DuckDB SQL. */
  private def auSql(i: String): String =
    s"((doc_id * 37 + ($i) * 13 + ascii(substring(text, " +
      s"CAST(($i) % length(text) AS INT) + 1, 1))) % 4001 - 2000)"

  val oracles: Map[String, String] = Map(
    // DuckDB substring() has no BLOB overload; the corpus is ASCII
    // (byte_len == n_chars, MultimodalSpec), so char slices == byte slices
    "q_mm_frames" ->
      """SELECT doc_id, n_frames,
        |  CAST(ceil(n_frames / 4.0) AS BIGINT) AS n_sampled,
        |  md5(substring(text, 1, 256)) AS frame0_md5
        |FROM (SELECT doc_id, text,
        |        octet_length(encode(text)) // 256 AS n_frames
        |      FROM documents)
        |WHERE n_frames > 0 ORDER BY doc_id""".stripMargin,
    // per-channel sums over the generated plane: channel c lives at
    // byte indices 3p + c of pixel p
    "q_mm_features" ->
      s"""WITH g AS (
         |  SELECT doc_id, text,
         |    8 + doc_id % 9 AS w, 6 + doc_id % 5 AS h
         |  FROM documents)
         |SELECT doc_id, w, h,
         |  CAST(list_sum(list_transform(range(0, w * h),
         |    p -> ${pxSql("p * 3")})) AS BIGINT) AS sum_r,
         |  CAST(list_sum(list_transform(range(0, w * h),
         |    p -> ${pxSql("p * 3 + 1")})) AS BIGINT) AS sum_g,
         |  CAST(list_sum(list_transform(range(0, w * h),
         |    p -> ${pxSql("p * 3 + 2")})) AS BIGINT) AS sum_b
         |FROM g ORDER BY doc_id""".stripMargin,
    // nearest-neighbor 4x4: output (x, y) channel c reads source byte
    // ((y*h//4)*w + (x*w//4))*3 + c; k enumerates the 48 output bytes
    // as k = (y*4 + x)*3 + c
    "q_mm_resize" -> {
      def srcIdx(x: String, y: String, c: String): String =
        s"((($y) * h // 4) * w + (($x) * w // 4)) * 3 + ($c)"
      s"""WITH g AS (
         |  SELECT doc_id, text,
         |    8 + doc_id % 9 AS w, 6 + doc_id % 5 AS h
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(${pxSql(srcIdx("0", "0", "0"))} AS BIGINT) AS p00_r,
         |  CAST(${pxSql(srcIdx("3", "1", "1"))} AS BIGINT) AS p31_g,
         |  CAST(${pxSql(srcIdx("2", "3", "2"))} AS BIGINT) AS p23_b,
         |  CAST(list_sum(list_transform(range(0, 48), k ->
         |    ${pxSql(srcIdx("(k // 3) % 4", "k // 12", "k % 3"))}))
         |    AS BIGINT) AS px_sum
         |FROM g ORDER BY doc_id""".stripMargin
    },
    // decoded-sample audio stats over the generated PCM plane
    "q_mm_audio" ->
      s"""WITH g AS (
         |  SELECT doc_id, text,
         |    8000 + (doc_id % 3) * 4000 AS sr,
         |    120 + doc_id % 200 AS n
         |  FROM documents)
         |SELECT doc_id, sr, n AS n_samples,
         |  CAST(list_sum(list_transform(range(0, n),
         |    i -> ${auSql("i")})) AS BIGINT) AS sum_s,
         |  CAST(list_sum(list_transform(range(0, n),
         |    i -> abs(${auSql("i")}))) AS BIGINT) AS sum_abs,
         |  CAST(list_max(list_transform(range(0, n),
         |    i -> abs(${auSql("i")}))) AS BIGINT) AS peak
         |FROM g ORDER BY doc_id""".stripMargin,
    // stride-3 decimation: output sample j reads source sample j*3
    "q_mm_audio_resample" ->
      s"""WITH g AS (
         |  SELECT doc_id, text,
         |    (8000 + (doc_id % 3) * 4000) // 3 AS sr_out,
         |    (120 + doc_id % 200 + 2) // 3 AS n_out
         |  FROM documents)
         |SELECT doc_id, sr_out, n_out,
         |  CAST(list_sum(list_transform(range(0, n_out),
         |    j -> ${auSql("j * 3")})) AS BIGINT) AS sum_d,
         |  CAST(${auSql("0")} AS BIGINT) AS s_first,
         |  CAST(${auSql("(n_out - 1) * 3")} AS BIGINT) AS s_last
         |FROM g ORDER BY doc_id""".stripMargin,
    "q_mm_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS byte_len,
        |  CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS first_byte,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}

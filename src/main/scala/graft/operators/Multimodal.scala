package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** One media object entering the decode stage: opaque bytes + id. */
case class MediaRow(doc_id: Long, content: Array[Byte])

/** Parsed image metadata out of the BMP decode stage. `status` is "ok" or
  * the quarantine reason ("too_short" / "bad_magic" / "truncated" /
  * "bad_header" / "bad_dims"); dims are 0 unless ok. */
case class BmpMeta(doc_id: Long, byte_len: Long, status: String,
                   width: Long, height: Long)

/** Parsed audio metadata out of the WAV decode stage. `data_offset` /
  * `block_align` are the real byte geometry a sampler needs. */
case class WavMeta(doc_id: Long, byte_len: Long, status: String,
                   sample_rate: Long, n_samples: Long,
                   data_offset: Long, block_align: Long)

/** Summary of one extracted feature vector (first component, component
  * sum, L2 norm — scalar columns keep the dump hash-comparable while
  * pinning every component). */
case class MediaEmbed(doc_id: Long, e0: Double, esum: Double, enorm: Double)

/** Parsed video-container metadata ("GVID": magic, frame count, length-
  * prefixed BMP frames). Dims are the (shared) frame dims when ok. */
case class VideoMeta(doc_id: Long, byte_len: Long, status: String,
                     n_frames: Long, width: Long, height: Long)

/** Multimodal-column plumbing: image/audio as opaque `binary` columns
  * with typed metadata, decoded in partition-sized batches.
  *
  * The decode is REAL format parsing, not a stub: each document's text
  * bytes are packed into a genuine BMP (24-bpp, BITMAPINFOHEADER) and a
  * genuine WAV (RIFF, 16-bit mono PCM) by [[Multimodal.buildBmp]] /
  * [[Multimodal.buildWav]], and the codecs parse the containers back —
  * magic, declared sizes, header fields, payload extent — quarantining
  * malformed records (wrong magic, truncated payload) the way
  * `q_corrupt_load` does for JSONL. The container has no image/audio
  * LIBRARIES, so the builders are the data source; the parsers trust
  * nothing but the bytes. A deterministic subset of records is corrupted
  * at build time (doc_id % 97 → magic overwritten, else doc_id % 89 →
  * payload halved) so the malformed paths are exercised — and
  * oracle-checked — on every run.
  *
  * Scale notes: ingest-build and decode are narrow `mapPartitions`
  * stages (no shuffle), embarrassingly parallel; binary payloads never
  * cross a shuffle — only the small typed metadata does if aggregated
  * downstream. A real codec swap changes only the parse functions; the
  * batch boundary (one iterator per partition, init amortized per batch,
  * the Scala analog of `mapInPandas`) is the deliverable shape.
  */
object Multimodal {

  /** Batch decode boundary: opaque media bytes in, typed metadata out,
    * one iterator per partition so codec init amortizes per batch. */
  trait MediaCodec[M] extends Serializable {
    def decode(batch: Iterator[MediaRow]): Iterator[M]
  }

  // ---------------------------------------------------------------------
  // Builders — documents.text → genuine container bytes
  // ---------------------------------------------------------------------

  /** Deterministic corruption at the INGEST boundary, before the codec
    * ever sees the bytes: doc_id % 97 → first magic byte overwritten
    * ('X'), else doc_id % 89 → payload truncated to its first half. The
    * codecs must detect both from the bytes alone. */
  private def corrupt(docId: Long, bytes: Array[Byte]): Array[Byte] =
    if (docId % 97 == 0) { val c = bytes.clone(); c(0) = 'X'.toByte; c }
    else if (docId % 89 == 0) java.util.Arrays.copyOf(bytes, bytes.length / 2)
    else bytes

  /** A real 24-bpp BMP: BITMAPFILEHEADER + BITMAPINFOHEADER + 4-byte
    * aligned pixel rows, pixels cycled from the text bytes. Dims derive
    * from the text byte length n (width 1+n%64, height 1+7n%48) so the
    * DuckDB oracle can reproduce the parsed metadata in closed form. */
  def buildBmp(docId: Long, text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val w = 1 + n % 64
    val h = 1 + (n * 7) % 48
    val row = ((w * 3 + 3) / 4) * 4
    val size = 54 + row * h
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    b.putInt(0).putInt(row * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var i = 0
    while (i < row * h) { b.put(text(i % n)); i += 1 }
    corrupt(docId, b.array)
  }

  /** A real 16-bit mono PCM WAV: RIFF/WAVE header, "fmt " chunk, "data"
    * chunk, samples cycled from the text bytes. sample_rate and
    * n_samples derive from n (8000+(n%3)*4000, 1+n%1000) for the same
    * closed-form oracle reason. */
  def buildWav(docId: Long, text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val rate = 8000 + (n % 3) * 4000
    val nSamples = 1 + n % 1000
    val dataSize = nSamples * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
    b.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < dataSize) { b.put(text(i % n)); i += 1 }
    corrupt(docId, b.array)
  }

  // ---------------------------------------------------------------------
  // Codecs — genuine header parsing with quarantine statuses
  // ---------------------------------------------------------------------

  private def le32(c: Array[Byte], o: Int): Long =
    (c(o) & 0xffL) | ((c(o + 1) & 0xffL) << 8) |
      ((c(o + 2) & 0xffL) << 16) | ((c(o + 3) & 0xffL) << 24)
  private def le16(c: Array[Byte], o: Int): Long =
    (c(o) & 0xffL) | ((c(o + 1) & 0xffL) << 8)
  private def ascii(c: Array[Byte], o: Int, s: String): Boolean =
    s.indices.forall(i => c(o + i) == s.charAt(i).toByte)

  /** Parse one BMP: magic, declared file size vs actual, header size,
    * bpp, dims, payload extent. Every branch is a byte check — the
    * builder's arithmetic never leaks in here. */
  def parseBmp(docId: Long, c: Array[Byte]): BmpMeta = {
    val len = c.length.toLong
    def bad(st: String) = BmpMeta(docId, len, st, 0L, 0L)
    if (len < 54) bad("too_short")
    else if (!(c(0) == 'B'.toByte && c(1) == 'M'.toByte)) bad("bad_magic")
    else if (le32(c, 2) != len) bad("truncated")
    else if (le32(c, 14) != 40L || le16(c, 28) != 24L) bad("bad_header")
    else {
      val off = le32(c, 10); val w = le32(c, 18); val h = le32(c, 22)
      if (w < 1 || h < 1) bad("bad_dims")
      else {
        val row = ((w * 3 + 3) / 4) * 4
        if (off + row * h > len) bad("truncated")
        else BmpMeta(docId, len, "ok", w, h)
      }
    }
  }

  /** Parse one WAV: RIFF/WAVE magic, declared RIFF size vs actual, PCM
    * fmt chunk, data chunk extent. */
  def parseWav(docId: Long, c: Array[Byte]): WavMeta = {
    val len = c.length.toLong
    def bad(st: String) = WavMeta(docId, len, st, 0L, 0L, 0L, 0L)
    if (len < 44) bad("too_short")
    else if (!(ascii(c, 0, "RIFF") && ascii(c, 8, "WAVE"))) bad("bad_magic")
    else if (le32(c, 4) != len - 8) bad("truncated")
    else if (!ascii(c, 12, "fmt ") || le32(c, 16) != 16L ||
      le16(c, 20) != 1L || !ascii(c, 36, "data")) bad("bad_header")
    else {
      val rate = le32(c, 24); val blockAlign = le16(c, 32)
      val dataSize = le32(c, 40)
      if (44L + dataSize > len) bad("truncated")
      else if (blockAlign < 1) bad("bad_header")
      else WavMeta(docId, len, "ok", rate, dataSize / blockAlign, 44L, blockAlign)
    }
  }

  object BmpCodec extends MediaCodec[BmpMeta] {
    def decode(batch: Iterator[MediaRow]): Iterator[BmpMeta] =
      batch.map(r => parseBmp(r.doc_id, r.content))
  }

  object WavCodec extends MediaCodec[WavMeta] {
    def decode(batch: Iterator[MediaRow]): Iterator[WavMeta] =
      batch.map(r => parseWav(r.doc_id, r.content))
  }

  /** documents.text → binary media column (ingest build) — the stage a
    * real pipeline replaces with its crawler/object-store read. */
  private def mediaBytes(spark: SparkSession, dir: String,
                         build: (Long, Array[Byte]) => Array[Byte]) = {
    import spark.implicits._
    // fanOut: the per-row media build + downstream codec mapPartitions
    // are opaque typed stages the planner cannot split — over the
    // single-row-group scan they run in ONE task (identity at production
    // ingest sizes, see Tables.fanOut)
    Tables.fanOut(Tables.documents(spark, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("content")))
      .as[MediaRow]
      .mapPartitions(_.map(r => MediaRow(r.doc_id, build(r.doc_id, r.content))))
  }

  /** binary BMP content → batched decode → typed metadata, quarantined
    * records excluded (surfaced by [[mediaQuarantine]]). */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaBytes(spark, dir, buildBmp)
      .mapPartitions(BmpCodec.decode)
      .filter(_.status == "ok")
      .toDF()
      .select("doc_id", "byte_len", "width", "height")
  }

  /** DuckDB oracle for [[mediaMeta]] — the builder's closed-form dims
    * and file size for the uncorrupted subset. */
  def mediaMetaOracleSql: String =
    s"""WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents
                   WHERE doc_id % 97 != 0 AND doc_id % 89 != 0),
       d AS (SELECT doc_id, 1 + n % 64 AS w, 1 + (n * 7) % 48 AS h FROM m)
       SELECT doc_id,
              CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS BIGINT) AS byte_len,
              CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height
       FROM d ORDER BY doc_id"""

  /** binary WAV content → batched decode → typed audio metadata. */
  def audioMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaBytes(spark, dir, buildWav)
      .mapPartitions(WavCodec.decode)
      .filter(_.status == "ok")
      .toDF()
      .select("doc_id", "byte_len", "sample_rate", "n_samples")
  }

  /** DuckDB oracle for [[audioMeta]]. */
  def audioMetaOracleSql: String =
    s"""WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents
                   WHERE doc_id % 97 != 0 AND doc_id % 89 != 0)
       SELECT doc_id,
              CAST(44 + (1 + n % 1000) * 2 AS BIGINT) AS byte_len,
              CAST(8000 + (n % 3) * 4000 AS BIGINT) AS sample_rate,
              CAST(1 + n % 1000 AS BIGINT) AS n_samples
       FROM m ORDER BY doc_id"""

  /** The QUARANTINE side of both decode stages — every record either
    * format rejected, with the byte-level reason, mirroring the
    * corrupt-JSONL load. One narrow pass per format, union'd. */
  def mediaQuarantine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bmp = mediaBytes(spark, dir, buildBmp)
      .mapPartitions(BmpCodec.decode)
      .filter(_.status != "ok")
      .map(m => (m.doc_id, "bmp", m.status, m.byte_len))
    val wav = mediaBytes(spark, dir, buildWav)
      .mapPartitions(WavCodec.decode)
      .filter(_.status != "ok")
      .map(m => (m.doc_id, "wav", m.status, m.byte_len))
    bmp.union(wav).toDF("doc_id", "kind", "reason", "byte_len")
  }

  /** DuckDB oracle for [[mediaQuarantine]] — which records each codec
    * must reject, and why, from the corruption rules + container
    * arithmetic alone (halved file shorter than the fixed header →
    * too_short, else the declared-size check fires → truncated). */
  def mediaQuarantineOracleSql: String =
    s"""WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents
                   WHERE doc_id % 97 = 0 OR doc_id % 89 = 0),
       d AS (SELECT doc_id, n, 1 + n % 64 AS w, 1 + (n * 7) % 48 AS h FROM m),
       s AS (SELECT doc_id, n,
                    54 + ((w * 3 + 3) // 4) * 4 * h AS bmp_size,
                    44 + (1 + n % 1000) * 2 AS wav_size
             FROM d),
       q AS (
         SELECT doc_id, 'bmp' AS kind,
                CASE WHEN doc_id % 97 = 0 THEN 'bad_magic'
                     WHEN bmp_size // 2 < 54 THEN 'too_short'
                     ELSE 'truncated' END AS reason,
                CASE WHEN doc_id % 97 = 0 THEN bmp_size
                     ELSE bmp_size // 2 END AS byte_len
         FROM s
         UNION ALL
         SELECT doc_id, 'wav' AS kind,
                CASE WHEN doc_id % 97 = 0 THEN 'bad_magic'
                     WHEN wav_size // 2 < 44 THEN 'too_short'
                     ELSE 'truncated' END AS reason,
                CASE WHEN doc_id % 97 = 0 THEN wav_size
                     ELSE wav_size // 2 END AS byte_len
         FROM s)
       SELECT doc_id, kind, reason, CAST(byte_len AS BIGINT) AS byte_len
       FROM q ORDER BY doc_id, kind"""

  /** The FEATURE-EXTRACTION stage after decode — media bytes → embedding
    * vector, the step a real pipeline runs with a vision/audio model.
    * Same batch boundary as [[MediaCodec]]: one extractor per partition
    * (the expensive model init amortizes per batch, never per row), and
    * only the extracted VECTOR SUMMARY leaves the stage — payload bytes
    * never cross a shuffle. */
  trait MediaEmbedder extends Serializable {
    def embed(batch: Iterator[MediaRow]): Iterator[MediaEmbed]
  }

  /** Deterministic stand-in for the absent model libraries: component j
    * of the 8-dim embedding is the 32-bit md5 prefix of content‖":"‖j
    * mapped affinely onto [-1, 1) — a pure function of the bytes, so the
    * DuckDB oracle reproduces every component (md5 of the same UTF-8
    * bytes). The per-partition MessageDigest is the stand-in for the
    * per-partition model handle. */
  object StubEmbedder extends MediaEmbedder {
    private def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def embed(batch: Iterator[MediaRow]): Iterator[MediaEmbed] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      batch.map { r =>
        val comps = (0 until 8).map { j =>
          val d = md.digest(r.content ++ s":$j".getBytes("UTF-8"))
          val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          h.toDouble / 4294967296.0 * 2 - 1
        }
        MediaEmbed(r.doc_id, round6(comps.head), round6(comps.sum),
          round6(math.sqrt(comps.map(c => c * c).sum)))
      }
    }
  }

  /** binary content → batched feature extraction → embedding summary. */
  def mediaEmbed(spark: SparkSession, dir: String,
                 embedder: MediaEmbedder = StubEmbedder): DataFrame = {
    import spark.implicits._
    // fanOut: same serial-decode fix as [[mediaBytes]]
    Tables.fanOut(Tables.documents(spark, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("content")))
      .as[MediaRow]
      .mapPartitions(embedder.embed)
      .toDF()
  }

  /** DuckDB oracle for [[mediaEmbed]] — the same md5-derived components
    * over the same UTF-8 bytes, same op order, same HALF_UP rounding. */
  def mediaEmbedOracleSql: String = {
    def hex32(expr: String): String = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr($expr, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString("(", " + ", ")")
    val comp = s"${hex32("md5(text || ':' || CAST(j AS VARCHAR))")} / 4294967296.0 * 2 - 1"
    s"""WITH c AS (SELECT doc_id, [$comp for j in range(0, 8)] AS comps
                   FROM documents)
       SELECT doc_id, round(comps[1], 6) AS e0,
              round(list_sum(comps), 6) AS esum,
              round(sqrt(list_sum([x * x for x in comps])), 6) AS enorm
       FROM c ORDER BY doc_id"""
  }

  /** The RESIZE stage between decode and feature extraction — the
    * standard vision-pipeline preprocessing step: fit each decoded
    * (width, height) into a `box`×`box` bounding box preserving aspect
    * ratio (longest side → `box`, floor clamped to 1 px). The pixel work
    * itself would run inside the per-partition codec batch; the RESIZE
    * PLAN — the target geometry every batch worker applies — is pure
    * integer arithmetic over the PARSED metadata, shuffle-free (the
    * binary payload never leaves its partition). */
  def resizePlan(spark: SparkSession, dir: String, box: Int = 224): DataFrame =
    mediaMeta(spark, dir)
      .withColumn("m", greatest(col("width"), col("height"), lit(1L)))
      .select(col("doc_id"), col("width"), col("height"),
        greatest(lit(1L), expr(s"width * $box div m")).as("target_w"),
        greatest(lit(1L), expr(s"height * $box div m")).as("target_h"))

  /** DuckDB oracle for [[resizePlan]] — same parsed dims, same integer
    * arithmetic, same clamps. */
  def resizePlanOracleSql(box: Int = 224): String =
    s"""WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents
                   WHERE doc_id % 97 != 0 AND doc_id % 89 != 0),
       d AS (SELECT doc_id, 1 + n % 64 AS width, 1 + (n * 7) % 48 AS height FROM m),
       g AS (SELECT doc_id, width, height,
                    greatest(width, height, 1) AS mx FROM d)
       SELECT doc_id, CAST(width AS BIGINT) AS width,
              CAST(height AS BIGINT) AS height,
              CAST(greatest(1, width * $box // mx) AS BIGINT) AS target_w,
              CAST(greatest(1, height * $box // mx) AS BIGINT) AS target_h
       FROM g ORDER BY doc_id"""

  /** Frame sampling over the PARSED audio metadata — the explode-shaped
    * plumbing a media pipeline runs before per-frame feature extraction:
    * up to `k` evenly-spaced sample frames per object, emitted as
    * (doc_id, frame_idx, byte_offset) where byte_offset is the REAL
    * offset into the container (data_offset + frame_idx · block_align,
    * both parsed from the WAV header). One row per sampled frame, fanned
    * out with a Generator (no shuffle). */
  def sampleFrames(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    mediaBytes(spark, dir, buildWav)
      .mapPartitions(WavCodec.decode)
      .filter(_.status == "ok")
      .toDF()
      .withColumn("kk", least(lit(k.toLong), col("n_samples")))
      .select(col("doc_id"), col("data_offset"), col("block_align"),
        col("n_samples"), col("kk"),
        explode(sequence(lit(0L), col("kk") - 1)).as("i"))
      .select(col("doc_id"),
        expr("(i * n_samples) div kk").as("frame_idx"),
        expr("data_offset + ((i * n_samples) div kk) * block_align").as("byte_offset"))
  }

  /** FRAME EXTRACTION — the stage after [[sampleFrames]]'s plan: decode
    * the PAYLOAD bytes at each planned offset, not just the header. One
    * codec pass per partition parses the container and reads the signed
    * 16-bit LE sample at data_offset + idx·block_align for each of the k
    * evenly-spaced frames — the proof that the sampling plan's offsets
    * address real bytes (the oracle recomputes every sample value from
    * the builder's cycled-text payload rule). Payload bytes never leave
    * the partition; only (doc_id, frame_idx, byte_offset, sample_val)
    * rows do. */
  def frameExtract(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    mediaBytes(spark, dir, buildWav)
      .mapPartitions(_.flatMap { r =>
        val m = parseWav(r.doc_id, r.content)
        if (m.status != "ok") Iterator.empty
        else {
          val kk = math.min(k.toLong, m.n_samples)
          (0L until kk).iterator.map { i =>
            val idx = i * m.n_samples / kk
            val off = (m.data_offset + idx * m.block_align).toInt
            val lo = r.content(off) & 0xffL
            val hi = r.content(off + 1).toLong // sign-carrying high byte
            (r.doc_id, idx, off.toLong, (hi << 8) | lo)
          }
        }
      })
      .toDF("doc_id", "frame_idx", "byte_offset", "sample_val")
  }

  /** DuckDB oracle for [[frameExtract]] — the sample-value rule inverted
    * from the builder: payload byte j is text byte j mod n, so the
    * sample at data offset d is (text[d mod n], text[(d+1) mod n]) as a
    * signed 16-bit LE — each byte dug out of hex(encode(text)). */
  def frameExtractOracleSql(k: Int = 3): String = {
    def hexByte(j: String): String = oHexByte(j)
    s"""WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents
                   WHERE doc_id % 97 != 0 AND doc_id % 89 != 0),
       f AS (SELECT doc_id, hx, n, 1 + n % 1000 AS ns FROM m),
       g AS (SELECT doc_id, hx, n, ns,
                    CASE WHEN ns < $k THEN ns ELSE $k END AS kk FROM f),
       e AS (SELECT doc_id, hx, n, (i * ns) // kk AS idx
             FROM g, unnest(range(0, kk)) AS t(i)),
       b AS (SELECT doc_id, idx, n, hx,
                    (idx * 2) % n AS j_lo, (idx * 2 + 1) % n AS j_hi
             FROM e),
       v AS (SELECT doc_id, idx,
                    ${hexByte("j_lo")} AS lo, ${hexByte("j_hi")} AS hi
             FROM b)
       SELECT doc_id, CAST(idx AS BIGINT) AS frame_idx,
              CAST(44 + idx * 2 AS BIGINT) AS byte_offset,
              CAST(CASE WHEN hi >= 128 THEN (hi - 256) * 256 + lo
                        ELSE hi * 256 + lo END AS BIGINT) AS sample_val
       FROM v ORDER BY doc_id, frame_idx"""
  }

  /** DuckDB oracle for [[sampleFrames]] — same integer arithmetic over
    * the builder's closed-form audio geometry (data at offset 44,
    * 16-bit mono → block_align 2). */
  def sampleFramesOracleSql(k: Int = 3): String =
    s"""WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents
                   WHERE doc_id % 97 != 0 AND doc_id % 89 != 0),
       f AS (SELECT doc_id, 1 + n % 1000 AS ns FROM m),
       g AS (SELECT doc_id, ns,
                    CASE WHEN ns < $k THEN ns ELSE $k END AS kk FROM f),
       e AS (SELECT doc_id, ns, kk, unnest(range(0, kk)) AS i FROM g)
       SELECT doc_id, CAST((i * ns) // kk AS BIGINT) AS frame_idx,
              CAST(44 + ((i * ns) // kk) * 2 AS BIGINT) AS byte_offset
       FROM e ORDER BY doc_id, frame_idx"""

  // ---------------------------------------------------------------------
  // Perceptual hashing — image NEAR-dup over the real pixel payload
  // ---------------------------------------------------------------------

  /** 64-bit difference hash (dHash) over the decoded 24-bpp pixel grid:
    * sample a 9×8 grayscale grid by nearest-neighbor from the REAL
    * payload bytes (bottom-up rows, 4-byte-aligned stride, BGR), then
    * bit i = gy·8+gx is set iff gray(gx+1, gy) > gray(gx, gy). Returned
    * as two unsigned 32-bit halves so the SQL oracle can rebuild each
    * half with `bit << i` sums without touching the sign bit. */
  def dHash64(c: Array[Byte], off: Int, w: Int, h: Int): (Long, Long) = {
    val row = ((w * 3 + 3) / 4) * 4
    val gray = Array.ofDim[Int](8, 9)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 9) {
        val px = gx * w / 9; val py = gy * h / 8
        val p = off + py * row + px * 3
        gray(gy)(gx) = ((c(p) & 0xff) + (c(p + 1) & 0xff) + (c(p + 2) & 0xff)) / 3
        gx += 1
      }
      gy += 1
    }
    var hi = 0L; var lo = 0L
    gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        if (gray(gy)(gx + 1) > gray(gy)(gx)) {
          val i = gy * 8 + gx
          if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        }
        gx += 1
      }
      gy += 1
    }
    (hi, lo)
  }

  /** (doc_id, text) → (doc_id, phash_hi, phash_lo): the ingest-build +
    * decode + dHash chain as ONE stateless narrow transform, usable on
    * batch AND streaming inputs (the streaming image-dedup flow maps it
    * over arriving micro-batches). */
  def withPHash(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      .as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        val bytes = buildBmp(r.doc_id, r.content)
        val m = parseBmp(r.doc_id, bytes)
        if (m.status != "ok") Iterator.empty
        else {
          val (hi, lo) = dHash64(bytes, 54, m.width.toInt, m.height.toInt)
          Iterator((r.doc_id, hi, lo))
        }
      })
      .toDF("doc_id", "phash_hi", "phash_lo")
  }

  /** Per-image perceptual hash: decode each BMP in its partition batch,
    * dHash the pixel payload, emit only (doc_id, phash_hi, phash_lo).
    * Narrow (no shuffle); payload bytes never leave the partition — at
    * 100 TB only 16 bytes/image cross to the dedup join. */
  def perceptualHash(spark: SparkSession, dir: String): DataFrame =
    withPHash(Tables.fanOut(Tables.documents(spark, dir).select("doc_id", "text")))

  /** The 4×16-bit band array of a phash, position-tagged so one explode
    * + equi-join buckets per (band index, band value) — shared by the
    * batch self-join and the streaming probe. */
  private[graft] def phashBands(hi: Column, lo: Column): Column =
    array(
      lo.bitwiseAND(lit(0xffffL)),
      shiftright(lo, 16).bitwiseAND(lit(0xffffL)) + lit(0x10000L),
      hi.bitwiseAND(lit(0xffffL)) + lit(0x20000L),
      shiftright(hi, 16).bitwiseAND(lit(0xffffL)) + lit(0x30000L))

  // 0-based byte j of the UTF-8 text as an integer, via the hex dump —
  // shared by the payload-reading oracles.
  private def oHexByte(j: String): String = {
    def nib(o: String) =
      s"(strpos('0123456789ABCDEF', substr(hx, 2 * ($j) + $o, 1)) - 1)"
    s"(${nib("1")} * 16 + ${nib("2")})"
  }

  /** DuckDB oracle for [[perceptualHash]] — payload byte p is text byte
    * p mod n (builder rule), so every grid sample, comparison bit, and
    * packed half is reproducible in closed form. */
  def perceptualHashOracleSql: String = {
    val base = "(py * rw + px * 3)"
    s"""WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents
                   WHERE doc_id % 97 != 0 AND doc_id % 89 != 0),
       d AS (SELECT doc_id, hx, n, 1 + n % 64 AS w, 1 + (n * 7) % 48 AS h FROM m),
       r AS (SELECT doc_id, hx, n, w, h, ((w * 3 + 3) // 4) * 4 AS rw FROM d),
       g AS (SELECT doc_id, hx, n, rw, gx, gy,
                    (gx * w) // 9 AS px, (gy * h) // 8 AS py
             FROM r, unnest(range(0, 9)) t1(gx), unnest(range(0, 8)) t2(gy)),
       gr AS (SELECT doc_id, gx, gy,
                     (${oHexByte(s"$base % n")} + ${oHexByte(s"($base + 1) % n")}
                      + ${oHexByte(s"($base + 2) % n")}) // 3 AS gray
              FROM g),
       bits AS (SELECT a.doc_id, a.gy * 8 + a.gx AS i,
                       CASE WHEN b.gray > a.gray THEN 1 ELSE 0 END AS bit
                FROM gr a JOIN gr b
                  ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
                WHERE a.gx < 8)
       SELECT doc_id,
              CAST(sum(CASE WHEN i >= 32 THEN bit::BIGINT << (i - 32) ELSE 0 END) AS BIGINT) AS phash_hi,
              CAST(sum(CASE WHEN i < 32 THEN bit::BIGINT << i ELSE 0 END) AS BIGINT) AS phash_lo
       FROM bits GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Image near-dup pairs via BANDED hamming join over [[perceptualHash]]:
    * the 64-bit dHash splits into 4×16-bit bands; by pigeonhole any pair
    * within hamming distance ≤ 3 shares at least one untouched band, so
    * the band equi-join is EXACT for the ≤ 3 threshold (never all-pairs —
    * candidate work is per-bucket, the simhash scale shape). Candidates
    * are verified with a real popcount over both halves. */
  def imageNearDup(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 bands only guarantee recall for hamming <= 3")
    // stage the hashes ONCE: both join sides consume them, and at 100 TB
    // re-deriving a side means re-decoding every image — stage the
    // 16-byte/image relation instead.
    Tables.withStaged(perceptualHash(spark, dir))(imageNearDupFrom(_, maxHamming))
  }

  private def imageNearDupFrom(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val ph = hashes
      .select(col("doc_id"), col("phash_hi"), col("phash_lo"),
        explode(phashBands(col("phash_hi"), col("phash_lo"))).as("band"))
    val a = ph.select(col("band"), col("doc_id").as("a"),
      col("phash_hi").as("hi_a"), col("phash_lo").as("lo_a"))
    val b = ph.select(col("band"), col("doc_id").as("b"),
      col("phash_hi").as("hi_b"), col("phash_lo").as("lo_b"))
    Tables.materialize(a.join(b, Seq("band")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("a", "b"))
  }

  /** DuckDB oracle for [[imageNearDup]] — brute-force all-pairs hamming
    * over the closed-form hashes. The Spark side bands and never goes
    * all-pairs; equality with this oracle PROVES the banding is lossless
    * at the ≤ 3 threshold. */
  def imageNearDupOracleSql(maxHamming: Int = 3): String =
    s"""WITH ph AS (${perceptualHashOracleSql.replace("ORDER BY doc_id", "")})
       SELECT a.doc_id AS a, b.doc_id AS b,
              CAST(bit_count(xor(a.phash_hi, b.phash_hi))
                   + bit_count(xor(a.phash_lo, b.phash_lo)) AS BIGINT) AS hamming
       FROM ph a JOIN ph b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.phash_hi, b.phash_hi))
             + bit_count(xor(a.phash_lo, b.phash_lo)) <= $maxHamming
       ORDER BY a, b"""

  /** CROSS-MODAL AGREEMENT AUDIT — does the image near-dup graph agree
    * with the text near-dup graph about which documents are duplicates?
    * Both pipelines run over the same corpus (the images are built from
    * the text), so their pair sets should overlap heavily; the audit
    * reports n_both / n_text_only / n_image_only and the pair-set
    * Jaccard — the calibration number a pipeline owner watches when one
    * modality's thresholds drift. Same cross-subsystem-audit shape as
    * q_quality_calibration. */
  def modalityAgreement(spark: SparkSession, dir: String): DataFrame = {
    val text = Dedup.nearDupPairs(spark, dir, threshold = 0.95)
      .select(col("doc_a").as("a"), col("doc_b").as("b"),
        lit(1).as("t"), lit(0).as("i"))
    val img = imageNearDup(spark, dir)
      .select(col("a"), col("b"), lit(0).as("t"), lit(1).as("i"))
    text.unionByName(img)
      .groupBy("a", "b")
      .agg(max(col("t")).as("t"), max(col("i")).as("i"))
      .agg(
        sum(when(col("t") === 1 && col("i") === 1, 1L).otherwise(0L)).as("n_both"),
        sum(when(col("t") === 1 && col("i") === 0, 1L).otherwise(0L)).as("n_text_only"),
        sum(when(col("t") === 0 && col("i") === 1, 1L).otherwise(0L)).as("n_image_only"),
        count(lit(1)).as("n_union"))
      .select(col("n_both"), col("n_text_only"), col("n_image_only"),
        round(col("n_both").cast("double") / col("n_union"), 6).as("pair_jaccard"))
  }

  /** DuckDB oracle for [[modalityAgreement]] — composes the full text
    * near-dup oracle and the image near-dup oracle, then the same
    * set-algebra counts. */
  def modalityAgreementOracleSql: String =
    s"""WITH tpq AS (SELECT doc_a AS a, doc_b AS b FROM
           (${Dedup.nearDupOracleSql().replace("ORDER BY doc_a, doc_b", "")}) tq),
       ipq AS (SELECT a, b FROM
           (${imageNearDupOracleSql().replace("ORDER BY a, b", "")}) iq),
       u AS (SELECT a, b, max(t) AS t, max(i) AS i FROM (
               SELECT a, b, 1 AS t, 0 AS i FROM tpq
               UNION ALL
               SELECT a, b, 0 AS t, 1 AS i FROM ipq) z
             GROUP BY a, b)
       SELECT CAST(sum(CASE WHEN t = 1 AND i = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
              CAST(sum(CASE WHEN t = 1 AND i = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_text_only,
              CAST(sum(CASE WHEN t = 0 AND i = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_image_only,
              round(CAST(sum(CASE WHEN t = 1 AND i = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                    / count(*), 6) AS pair_jaccard
       FROM u"""

  // ---------------------------------------------------------------------
  // Video containers — multi-frame BMP payloads, parse + per-frame phash
  // ---------------------------------------------------------------------

  /** A simple but REAL multi-frame video container ("GVID"): 4-byte
    * magic, u32-LE frame count, then per frame a u32-LE length prefix
    * and a complete BMP whose payload is the text CYCLED WITH OFFSET f
    * (frame f's payload byte i = text[(i + f) mod n]) — consecutive
    * frames are near-identical, exactly the redundancy a video codec
    * would exploit and a near-dup stage must see through. Frame count =
    * 1 + n mod 3; same deterministic corruption rules as BMP/WAV. */
  def buildVideo(docId: Long, text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val nFrames = 1 + n % 3
    val frames = (0 until nFrames).map { f =>
      val w = 1 + n % 64
      val h = 1 + (n * 7) % 48
      val row = ((w * 3 + 3) / 4) * 4
      val size = 54 + row * h
      val b = java.nio.ByteBuffer.allocate(size)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      b.putInt(0).putInt(row * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
      var i = 0
      while (i < row * h) { b.put(text((i + f) % n)); i += 1 }
      b.array
    }
    val total = 8 + frames.map(4 + _.length).sum
    val out = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("GVID".getBytes("US-ASCII")).putInt(nFrames)
    frames.foreach { fr => out.putInt(fr.length); out.put(fr) }
    corrupt(docId, out.array)
  }

  /** Parse one GVID container: magic, frame count, per-frame length
    * extents, then a full BMP parse of every frame. Any bad frame
    * rejects the container (the strictest policy — a production decoder
    * might salvage; the QUARANTINE decision must still be byte-driven). */
  def parseVideo(docId: Long, c: Array[Byte]): VideoMeta = {
    val len = c.length.toLong
    def bad(st: String) = VideoMeta(docId, len, st, 0L, 0L, 0L)
    if (len < 8) bad("too_short")
    else if (!ascii(c, 0, "GVID")) bad("bad_magic")
    else {
      val nFrames = le32(c, 4)
      if (nFrames < 1 || nFrames > 1024) bad("bad_header")
      else {
        var off = 8L
        var f = 0L
        var w = 0L; var h = 0L
        var ok = true; var reason = "ok"
        while (ok && f < nFrames) {
          if (off + 4 > len) { ok = false; reason = "truncated" }
          else {
            val fl = le32(c, off.toInt)
            if (off + 4 + fl > len) { ok = false; reason = "truncated" }
            else {
              val fb = java.util.Arrays.copyOfRange(c, (off + 4).toInt, (off + 4 + fl).toInt)
              val m = parseBmp(docId, fb)
              if (m.status != "ok") { ok = false; reason = s"frame_${m.status}" }
              else { w = m.width; h = m.height; off += 4 + fl; f += 1 }
            }
          }
        }
        if (!ok) bad(reason)
        else if (off != len) bad("truncated")
        else VideoMeta(docId, len, "ok", nFrames, w, h)
      }
    }
  }

  /** Parsed video metadata for the ok subset. */
  def videoMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaBytes(spark, dir, buildVideo)
      .mapPartitions(_.map(r => parseVideo(r.doc_id, r.content)))
      .filter(_.status == "ok")
      .toDF()
      .select("doc_id", "byte_len", "n_frames", "width", "height")
  }

  /** DuckDB oracle for [[videoMeta]] — closed-form container geometry. */
  def videoMetaOracleSql: String =
    s"""WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents
                   WHERE doc_id % 97 != 0 AND doc_id % 89 != 0),
       d AS (SELECT doc_id, n, 1 + n % 3 AS nf, 1 + n % 64 AS w,
                    1 + (n * 7) % 48 AS h FROM m),
       s AS (SELECT doc_id, nf, w, h,
                    54 + ((w * 3 + 3) // 4) * 4 * h AS bmp FROM d)
       SELECT doc_id, CAST(8 + nf * (4 + bmp) AS BIGINT) AS byte_len,
              CAST(nf AS BIGINT) AS n_frames,
              CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height
       FROM s ORDER BY doc_id"""

  /** The quarantine side of the video decode — every corrupted container
    * with its byte-level reason, mirroring [[mediaQuarantine]]. The
    * halved-payload corruption always cuts mid-frame (the smallest
    * container is 70 bytes, so half is past the 8-byte header), so the
    * frame-extent walk reports `truncated`. */
  def videoQuarantine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaBytes(spark, dir, buildVideo)
      .mapPartitions(_.map(r => parseVideo(r.doc_id, r.content)))
      .filter(_.status != "ok")
      .map(m => (m.doc_id, m.status, m.byte_len))
      .toDF("doc_id", "reason", "byte_len")
  }

  /** DuckDB oracle for [[videoQuarantine]] — corruption rules + container
    * arithmetic alone. */
  def videoQuarantineOracleSql: String =
    s"""WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents
                   WHERE doc_id % 97 = 0 OR doc_id % 89 = 0),
       d AS (SELECT doc_id, 1 + n % 3 AS nf, 1 + n % 64 AS w,
                    1 + (n * 7) % 48 AS h FROM m),
       s AS (SELECT doc_id, 8 + nf * (4 + 54 + ((w * 3 + 3) // 4) * 4 * h) AS sz
             FROM d)
       SELECT doc_id,
              CASE WHEN doc_id % 97 = 0 THEN 'bad_magic' ELSE 'truncated' END AS reason,
              CAST(CASE WHEN doc_id % 97 = 0 THEN sz ELSE sz // 2 END AS BIGINT) AS byte_len
       FROM s ORDER BY doc_id"""

  /** Per-frame perceptual hashes of every ok video: (doc_id, frame_idx,
    * phash_hi, phash_lo) — decode stays in the partition, 16 bytes/frame
    * leave it. */
  def videoFramePHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaBytes(spark, dir, buildVideo)
      .mapPartitions(_.flatMap { r =>
        val m = parseVideo(r.doc_id, r.content)
        if (m.status != "ok") Iterator.empty
        else {
          var off = 8L
          (0L until m.n_frames).iterator.map { f =>
            val fl = le32(r.content, off.toInt)
            val frame = java.util.Arrays.copyOfRange(
              r.content, (off + 4).toInt, (off + 4 + fl).toInt)
            val fm = parseBmp(r.doc_id, frame)
            val (hi, lo) = dHash64(frame, 54, fm.width.toInt, fm.height.toInt)
            off += 4 + fl
            (r.doc_id, f, hi, lo)
          }
        }
      })
      .toDF("doc_id", "frame_idx", "phash_hi", "phash_lo")
  }

  /** DuckDB oracle for [[videoFramePHash]] — the image phash oracle with
    * the frame's rotation folded into the byte index (frame f payload
    * byte p = text[(p + f) mod n]). */
  def videoFramePHashOracleSql: String = {
    val base = "(py * rw + px * 3)"
    s"""WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents
                   WHERE doc_id % 97 != 0 AND doc_id % 89 != 0),
       d AS (SELECT doc_id, hx, n, 1 + n % 3 AS nf, 1 + n % 64 AS w,
                    1 + (n * 7) % 48 AS h FROM m),
       r AS (SELECT doc_id, hx, n, w, h, ((w * 3 + 3) // 4) * 4 AS rw,
                    unnest(range(0, nf)) AS f FROM d),
       g AS (SELECT doc_id, f, hx, n, rw, gx, gy,
                    (gx * w) // 9 AS px, (gy * h) // 8 AS py
             FROM r, unnest(range(0, 9)) t1(gx), unnest(range(0, 8)) t2(gy)),
       gr AS (SELECT doc_id, f, gx, gy,
                     (${oHexByte(s"($base + f) % n")}
                      + ${oHexByte(s"($base + 1 + f) % n")}
                      + ${oHexByte(s"($base + 2 + f) % n")}) // 3 AS gray
              FROM g),
       bits AS (SELECT a.doc_id, a.f, a.gy * 8 + a.gx AS i,
                       CASE WHEN b.gray > a.gray THEN 1 ELSE 0 END AS bit
                FROM gr a JOIN gr b
                  ON a.doc_id = b.doc_id AND a.f = b.f AND a.gy = b.gy
                     AND b.gx = a.gx + 1
                WHERE a.gx < 8)
       SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
              CAST(sum(CASE WHEN i >= 32 THEN bit::BIGINT << (i - 32) ELSE 0 END) AS BIGINT) AS phash_hi,
              CAST(sum(CASE WHEN i < 32 THEN bit::BIGINT << i ELSE 0 END) AS BIGINT) AS phash_lo
       FROM bits GROUP BY doc_id, f ORDER BY doc_id, frame_idx"""
  }

  /** Video near-dup: two videos match when ANY frame pair is within
    * hamming ≤ 3 — per-frame hashes feed the same banded join (exact by
    * the same pigeonhole, applied per frame pair), then the minimum
    * qualifying distance aggregates per video pair. Output
    * (a, b, hamming = min qualifying frame-pair distance). */
  def videoNearDup(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 bands only guarantee recall for hamming <= 3")
    Tables.withStaged(videoFramePHash(spark, dir)
        .select(col("doc_id"), col("phash_hi"), col("phash_lo"),
          explode(phashBands(col("phash_hi"), col("phash_lo"))).as("band"))) { ph =>
      val a = ph.select(col("band"), col("doc_id").as("a"),
        col("phash_hi").as("hi_a"), col("phash_lo").as("lo_a"))
      val b = ph.select(col("band"), col("doc_id").as("b"),
        col("phash_hi").as("hi_b"), col("phash_lo").as("lo_b"))
      val out = a.join(b, Seq("band")).filter(col("a") < col("b"))
        .select(col("a"), col("b"),
          (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
            .cast("long").as("d"))
        .filter(col("d") <= maxHamming)
        .groupBy("a", "b").agg(min(col("d")).as("hamming"))
        .orderBy("a", "b")
      Tables.materialize(out)
    }
  }

  /** DuckDB oracle for [[videoNearDup]] — brute force over every frame
    * combination of every video pair. */
  def videoNearDupOracleSql(maxHamming: Int = 3): String =
    s"""WITH ph AS (${videoFramePHashOracleSql.replace("ORDER BY doc_id, frame_idx", "")}),
       d AS (SELECT a.doc_id AS a, b.doc_id AS b,
                    bit_count(xor(a.phash_hi, b.phash_hi))
                      + bit_count(xor(a.phash_lo, b.phash_lo)) AS d
             FROM ph a JOIN ph b ON a.doc_id < b.doc_id)
       SELECT a, b, CAST(min(d) AS BIGINT) AS hamming
       FROM d WHERE d <= $maxHamming
       GROUP BY a, b ORDER BY a, b"""

  // ---------------------------------------------------------------------
  // Audio fingerprinting — segment-energy difference hash over real PCM
  // ---------------------------------------------------------------------

  /** 64-bit audio fingerprint in the chromaprint/echoprint SHAPE,
    * reduced to what raw PCM supports without a DSP library: split the
    * clip into 65 equal sample segments, sum |amplitude| per segment
    * (exact Long), and set bit j iff energy(j+1) > energy(j) — the same
    * difference-coding idea as the image dHash, over the time axis. The
    * fingerprint survives amplitude-preserving edits that shift absolute
    * levels and feeds the identical banded hamming machinery. */
  def audioHash64(c: Array[Byte], dataOffset: Long, blockAlign: Long,
                  nSamples: Long): (Long, Long) = {
    val segs = new Array[Long](65)
    var i = 0L
    while (i < nSamples) {
      val off = (dataOffset + i * blockAlign).toInt
      val v = (c(off + 1).toLong << 8) | (c(off) & 0xffL)
      segs((i * 65 / nSamples).toInt) += math.abs(v)
      i += 1
    }
    var hi = 0L; var lo = 0L
    var j = 0
    while (j < 64) {
      if (segs(j + 1) > segs(j)) {
        if (j < 32) lo |= 1L << j else hi |= 1L << (j - 32)
      }
      j += 1
    }
    (hi, lo)
  }

  /** Per-clip fingerprint rows (doc_id, phash_hi, phash_lo) — named like
    * the image hash so the shared banded join applies unchanged. Narrow,
    * payload never leaves the partition. */
  def audioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaBytes(spark, dir, buildWav)
      .mapPartitions(_.flatMap { r =>
        val m = parseWav(r.doc_id, r.content)
        if (m.status != "ok") Iterator.empty
        else {
          val (hi, lo) = audioHash64(r.content, m.data_offset, m.block_align, m.n_samples)
          Iterator((r.doc_id, hi, lo))
        }
      })
      .toDF("doc_id", "phash_hi", "phash_lo")
  }

  /** DuckDB oracle for [[audioFingerprint]] — per-segment |amplitude|
    * sums from the cycled-text payload rule (BIGINT-exact), then the
    * same difference bits and unsigned-half packing. */
  def audioFingerprintOracleSql: String =
    s"""WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents
                   WHERE doc_id % 97 != 0 AND doc_id % 89 != 0),
       f AS (SELECT doc_id, hx, n, 1 + n % 1000 AS ns FROM m),
       e AS (SELECT doc_id, hx, n, ns, unnest(range(0, ns)) AS i FROM f),
       b AS (SELECT doc_id, ns, i,
                    ${oHexByte("(i * 2) % n")} AS lo,
                    ${oHexByte("(i * 2 + 1) % n")} AS hi
             FROM e),
       v AS (SELECT doc_id, ns, (i * 65) // ns AS j,
                    CAST(CASE WHEN hi >= 128 THEN (hi - 256) * 256 + lo
                              ELSE hi * 256 + lo END AS BIGINT) AS s
             FROM b),
       seg AS (SELECT doc_id, j, sum(abs(s)) AS en FROM v GROUP BY 1, 2),
       grid AS (SELECT doc_id, jj FROM f, unnest(range(0, 65)) t(jj)),
       en AS (SELECT g.doc_id, g.jj, coalesce(s.en, 0) AS en
              FROM grid g LEFT JOIN seg s ON s.doc_id = g.doc_id AND s.j = g.jj),
       bits AS (SELECT a.doc_id, a.jj AS i,
                       CASE WHEN b.en > a.en THEN 1 ELSE 0 END AS bit
                FROM en a JOIN en b ON a.doc_id = b.doc_id AND b.jj = a.jj + 1
                WHERE a.jj < 64)
       SELECT doc_id,
              CAST(sum(CASE WHEN i >= 32 THEN bit::BIGINT << (i - 32) ELSE 0 END) AS BIGINT) AS phash_hi,
              CAST(sum(CASE WHEN i < 32 THEN bit::BIGINT << i ELSE 0 END) AS BIGINT) AS phash_lo
       FROM bits GROUP BY doc_id ORDER BY doc_id"""

  /** Audio near-dup pairs: the SAME banded hamming join as
    * [[imageNearDup]], over the audio fingerprints — one machinery, two
    * modalities. Exact at hamming ≤ 3 by the same pigeonhole. */
  def audioNearDup(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 bands only guarantee recall for hamming <= 3")
    Tables.withStaged(audioFingerprint(spark, dir))(imageNearDupFrom(_, maxHamming))
  }

  /** DuckDB oracle for [[audioNearDup]] — brute-force all-pairs hamming
    * over the closed-form fingerprints. */
  def audioNearDupOracleSql(maxHamming: Int = 3): String =
    s"""WITH ph AS (${audioFingerprintOracleSql.replace("ORDER BY doc_id", "")})
       SELECT a.doc_id AS a, b.doc_id AS b,
              CAST(bit_count(xor(a.phash_hi, b.phash_hi))
                   + bit_count(xor(a.phash_lo, b.phash_lo)) AS BIGINT) AS hamming
       FROM ph a JOIN ph b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.phash_hi, b.phash_hi))
             + bit_count(xor(a.phash_lo, b.phash_lo)) <= $maxHamming
       ORDER BY a, b"""

  // ---------------------------------------------------------------------
  // Audio signal statistics — energy features over the real PCM payload
  // ---------------------------------------------------------------------

  /** Per-clip audio energy features over every decoded 16-bit PCM sample:
    * RMS, silence ratio (|s| < 256), and peak amplitude. The
    * sum-of-squares accumulates in a Long (samples ≤ 2¹⁵ → squares fit
    * exactly), so the result is bit-deterministic regardless of partition
    * count — the float rounding happens exactly once at the end. Narrow
    * per-partition pass; only 5 scalars per clip leave the stage. */
  def audioStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaBytes(spark, dir, buildWav)
      .mapPartitions(_.flatMap { r =>
        val m = parseWav(r.doc_id, r.content)
        if (m.status != "ok") Iterator.empty
        else {
          var i = 0L; var sumSq = 0L; var nSilent = 0L; var peak = 0L
          while (i < m.n_samples) {
            val off = (m.data_offset + i * m.block_align).toInt
            val v = (r.content(off + 1).toLong << 8) | (r.content(off) & 0xffL)
            val a = math.abs(v)
            sumSq += v * v
            if (a < 256) nSilent += 1
            if (a > peak) peak = a
            i += 1
          }
          val rms = BigDecimal(math.sqrt(sumSq.toDouble / m.n_samples))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          val sil = BigDecimal(nSilent.toDouble / m.n_samples)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          Iterator((r.doc_id, m.n_samples, rms, sil, peak))
        }
      })
      .toDF("doc_id", "n_samples", "rms", "silence_ratio", "peak")
  }

  /** DuckDB oracle for [[audioStats]] — every sample value from the
    * cycled-text payload rule, sum-of-squares in BIGINT (exact), one
    * rounding at the end mirroring the Scala side. */
  def audioStatsOracleSql: String =
    s"""WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents
                   WHERE doc_id % 97 != 0 AND doc_id % 89 != 0),
       f AS (SELECT doc_id, hx, n, 1 + n % 1000 AS ns FROM m),
       e AS (SELECT doc_id, hx, n, ns, unnest(range(0, ns)) AS i FROM f),
       b AS (SELECT doc_id, ns,
                    ${oHexByte("(i * 2) % n")} AS lo,
                    ${oHexByte("(i * 2 + 1) % n")} AS hi
             FROM e),
       v AS (SELECT doc_id, ns,
                    CAST(CASE WHEN hi >= 128 THEN (hi - 256) * 256 + lo
                              ELSE hi * 256 + lo END AS BIGINT) AS s
             FROM b)
       SELECT doc_id, CAST(ns AS BIGINT) AS n_samples,
              round(sqrt(CAST(sum(s * s) AS DOUBLE) / ns), 6) AS rms,
              round(CAST(sum(CASE WHEN abs(s) < 256 THEN 1 ELSE 0 END) AS DOUBLE) / ns, 6) AS silence_ratio,
              CAST(max(abs(s)) AS BIGINT) AS peak
       FROM v GROUP BY doc_id, ns ORDER BY doc_id"""
}

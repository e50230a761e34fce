package graft.operators

import graft.functions.{Bmp, Wav}
import graft.sources.Tables

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Multimodal-column support: media as opaque `binary` columns with typed
  * metadata, plus the decode/feature-extract plumbing shape.
  *
  * Arbitrary blobs have no codec here, so their decode is a STUB
  * (`decodeStub`, a deterministic fake); everything around it is real and
  * tested: the binary column schema, the typed metadata struct, the
  * partition-wise batch decode path (`mapPartitions`, one codec init per
  * partition, never per row — the shape a JNI/FFI decoder needs), and the
  * per-row expression path for cheap metadata. BMP and WAV bytes are real:
  * they are built and read through [[graft.functions.Bmp]] and
  * [[graft.functions.Wav]], the only code that knows either byte layout.
  *
  * The reference's only brush with binary data is the BLOB→VARBINARY type
  * mapping (/root/reference/pipeline.py:121); this module is the north-star
  * extension of that row.
  */
object Multimodal {

  /** Decoded-media metadata: what a real image/audio probe would emit. */
  final case class MediaMeta(
      doc_id: Long, byte_len: Long, width: Long, height: Long, n_frames: Long,
      format: String)

  /** STUB decode: deterministic pseudo-metadata derived from content length.
    * A real deployment replaces this body with an actual codec probe; the
    * signature (bytes in, metadata out) and the call sites stay unchanged.
    */
  def decodeStub(docId: Long, bytes: Array[Byte]): MediaMeta = {
    val n = bytes.length.toLong
    MediaMeta(
      doc_id = docId,
      byte_len = n,
      width = n % 640 + 1,
      height = n % 480 + 1,
      n_frames = n % 30 + 1,
      format = if (n % 2 == 0) "img/fake-even" else "img/fake-odd")
  }

  /** Header probe for a REAL format: BMP is plain byte layout, so its
    * metadata is parseable with zero codec libraries (width and height read
    * as unsigned). `decode` dispatches here when the magic matches and falls
    * back to the stub otherwise — the dispatch structure a production probe
    * (magic → parser) uses.
    */
  def parseBmpHeader(docId: Long, bytes: Array[Byte]): Option[MediaMeta] =
    Bmp.probe(bytes).map(img => MediaMeta(docId, bytes.length.toLong,
      width = Integer.toUnsignedLong(img.width), height = Integer.toUnsignedLong(img.height),
      n_frames = 1L, format = "image/bmp"))

  def decode(docId: Long, bytes: Array[Byte]): MediaMeta =
    parseBmpHeader(docId, bytes).getOrElse(decodeStub(docId, bytes))

  /** Partition-wise batch decode over a binary column: the production shape
    * for real codecs (per-partition init, streamed rows, no driver
    * involvement).
    */
  def decodeBinaryColumn(spark: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("content").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // real impl: initialize codec once here, then stream
        rows.map { case (id, bytes) => decode(id, bytes) }
      }
  }

  /** documents.text → opaque binary column, the ingest shape for media blobs. */
  def asBinaryTable(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), col("text").cast("binary").as("content"),
        struct(col("source"), col("lang")).as("meta"))

  // ---------------------------------------------------------------- q41
  /** Binary-column pipeline: ingest as binary + metadata struct, stub-decode,
    * emit typed features. The stub math is pure arithmetic on byte length,
    * so the whole path is DuckDB-oracle-checkable even though the "decode"
    * is fake.
    */
  def q41MultimodalDecode(spark: SparkSession, d: String): DataFrame = {
    val decoded = decodeBinaryColumn(spark, asBinaryTable(spark, d))
    decoded.toDF()
      .select(col("doc_id"), col("byte_len"), col("width"), col("height"),
        col("n_frames"), col("format"))
      .orderBy(col("doc_id"))
  }

  val q41Oracle: String =
    """SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
       CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS height,
       CAST(octet_length(encode(text)) % 30 + 1 AS BIGINT) AS n_frames,
       CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'img/fake-even' ELSE 'img/fake-odd' END AS format
       FROM documents ORDER BY doc_id"""

  // ---------------------------------------------------------------- q42
  /** Expression-only metadata path (no mapPartitions): binary length and a
    * frame-sampling plan (which frame indices a sampler would decode),
    * computed as codegen'd expressions over the binary column.
    */
  def q42FrameSamplePlan(spark: SparkSession, d: String): DataFrame =
    asBinaryTable(spark, d)
      .withColumn("byte_len", expr("octet_length(content)").cast("long"))
      .withColumn("n_frames", (col("byte_len") % 30 + 1).cast("long"))
      // sample every 5th frame: the plan a video frame-sampler would execute
      .withColumn("sampled_frames", expr("size(sequence(0, CAST(n_frames AS INT) - 1, 5))").cast("long"))
      .select(col("doc_id"), col("byte_len"), col("n_frames"), col("sampled_frames"))
      .orderBy(col("doc_id"))

  val q42Oracle: String =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(octet_length(encode(text)) % 30 + 1 AS BIGINT) AS n_frames,
       CAST(floor((octet_length(encode(text)) % 30) / 5) + 1 AS BIGINT) AS sampled_frames
       FROM documents ORDER BY doc_id"""

  // ---------------------------------------------------------------- q50
  /** `binaryFile` source: whole-file binary ingest (the landing path for
    * real media blobs — images/audio arrive as files). Reads the region table
    * file itself as an opaque blob, then CERTIFIES the deterministic
    * metadata the source must deliver (full VALUES oracle — the file's
    * absolute length is env-knowable but not SQL-reachable from the oracle
    * engine, so it is certified relationally instead of by value):
    *  - file_name: the path column's basename, a hard value;
    *  - magic_ok: the content IS the file — a parquet file brackets with
    *    "PAR1", so both probes prove the blob's head and tail arrived;
    *  - length_ok: the length column equals the loaded content's byte count
    *    and exceeds the 8-byte magic envelope.
    * Modification time is env-dependent and stays excluded.
    */
  def q50BinaryFileSource(spark: SparkSession, d: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "region.parquet")
      .load(d)
      .select(
        element_at(split(col("path"), "/"), -1).as("file_name"),
        (expr("decode(substring(content, 1, 4), 'UTF-8')") === "PAR1" &&
          expr("decode(substring(content, -4, 4), 'UTF-8')") === "PAR1").as("magic_ok"),
        (col("length") === expr("octet_length(content)").cast("long") &&
          col("length") > 8L).as("length_ok"))
      .orderBy(col("file_name"))

  val q50Oracle: String =
    """SELECT 'region.parquet' AS file_name, true AS magic_ok, true AS length_ok"""

  // ------------------------------------------------------------ audio path
  /** Audio metadata: what a WAV/FLAC probe emits. */
  final case class AudioMeta(doc_id: Long, byte_len: Long, sample_rate: Long,
                             channels: Long, n_samples: Long, duration_ms: Long,
                             format: String)

  /** RIFF/WAVE header probe — like BMP, plain byte layout (PCM fmt chunk at
    * fixed offsets for canonical files), zero codec dependencies.
    */
  def parseWavHeader(docId: Long, bytes: Array[Byte]): Option[AudioMeta] =
    for (p <- Wav.probe(bytes); nSamples <- p.frames) yield {
      val durationMs = if (p.sampleRate == 0) 0L else nSamples * 1000L / p.sampleRate
      AudioMeta(docId, bytes.length.toLong, p.sampleRate, p.channels, nSamples,
        durationMs, "audio/wav")
    }

  /** Partition-wise audio probe over a binary column. */
  def decodeAudioColumn(spark: SparkSession, media: DataFrame): Dataset[AudioMeta] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("content").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) => parseWavHeader(id, bytes) })
  }

  // ---------------------------------------------------------------- q60
  /** Audio pipeline end to end: deterministic per-doc WAVs as opaque
    * binary, sample rate / duration recovered by parsing bytes; oracle
    * replicates the WAV size arithmetic.
    */
  def q60WavDecode(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, d).select(col("doc_id")).as[Long]
      .map { id =>
        val rate = (id % 3) match { case 0 => 16000; case 1 => 22050; case _ => 44100 }
        (id, Wav.make(rate, (1 + id % 2).toInt, (1000 + id % 8000).toInt))
      }.toDF("doc_id", "content")
    decodeAudioColumn(spark, media).toDF()
      .select(col("doc_id"), col("byte_len"), col("sample_rate"), col("channels"),
        col("n_samples"), col("duration_ms"))
      .orderBy(col("doc_id"))
  }

  val q60Oracle: String =
    """SELECT doc_id,
       CAST(44 + (1000 + doc_id % 8000) * (1 + doc_id % 2) * 2 AS BIGINT) AS byte_len,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 16000 WHEN doc_id % 3 = 1 THEN 22050 ELSE 44100 END AS BIGINT) AS sample_rate,
       CAST(1 + doc_id % 2 AS BIGINT) AS channels,
       CAST(1000 + doc_id % 8000 AS BIGINT) AS n_samples,
       CAST((1000 + doc_id % 8000) * 1000 // (CASE WHEN doc_id % 3 = 0 THEN 16000 WHEN doc_id % 3 = 1 THEN 22050 ELSE 44100 END) AS BIGINT) AS duration_ms
       FROM documents ORDER BY doc_id"""

  // ---------------------------------------------------------------- q59
  /** Real image decode end to end: construct a deterministic BMP per doc
    * (dimensions derived from doc_id), ship it as an opaque binary column,
    * and recover the dimensions by PARSING THE BYTES in the partition-wise
    * decode. The oracle replicates the BMP size arithmetic in SQL, so the
    * whole ingest→binary→probe path is hash-checked.
    */
  def q59BmpDecode(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, d).select(col("doc_id")).as[Long]
      .map(id => (id, Bmp.make((id % 64 + 16).toInt, (id % 48 + 16).toInt)))
      .toDF("doc_id", "content")
    decodeBinaryColumn(spark, media).toDF()
      .select(col("doc_id"), col("byte_len"), col("width"), col("height"), col("format"))
      .orderBy(col("doc_id"))
  }

  val q59Oracle: String =
    """SELECT doc_id,
       CAST(54 + ((((doc_id % 64 + 16) * 3 + 3) // 4) * 4) * (doc_id % 48 + 16) AS BIGINT) AS byte_len,
       CAST(doc_id % 64 + 16 AS BIGINT) AS width,
       CAST(doc_id % 48 + 16 AS BIGINT) AS height,
       'image/bmp' AS format
       FROM documents ORDER BY doc_id"""

  // ---------------------------------------------------------------- q151
  /** Image near-dup via PERCEPTUAL HASH over decoded pixels — the
    * multimodal twin of exact text dedup: every image is decoded
    * (real byte-level BMP pixel access, not just the q59 header probe),
    * reduced to an 8×8 block-mean aHash, and clustered by hash. The
    * corpus is synthesized with 8 distinct pixel patterns (seed =
    * doc_id % 8 at fixed 64×48), so identical content ⇒ identical hash
    * gives a CLOSED-FORM group structure the oracle replays from id
    * arithmetic alone — the whole decode→hash→cluster path is
    * value-checked without the oracle ever seeing a pixel. Scale shape:
    * decode+hash is mapPartitions (per-partition codec init, the q41
    * pattern), the cluster step shuffles 8-byte hashes, never pixels.
    */
  private def patternPixel(seed: Int)(x: Int, y: Int): Int = x * 31 + y * 17 + seed * 97

  def makePatternBmp(seed: Int): Array[Byte] = Bmp.gray(64, 48)(patternPixel(seed))

  /** 64-bit block-mean average hash over the blue channel of a 24-bit BMP. */
  def aHash(bytes: Array[Byte]): Long = {
    val img = Bmp.read(bytes)
    val bw = img.width / 8; val bh = img.height / 8
    val means = new Array[Long](64)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        var s = 0L
        var y = by * bh
        while (y < (by + 1) * bh) {
          var x = bx * bw
          while (x < (bx + 1) * bw) {
            s += img.blue(x, y)
            x += 1
          }
          y += 1
        }
        means(by * 8 + bx) = s / (bw * bh)
        bx += 1
      }
      by += 1
    }
    val overall = means.sum / 64
    means.zipWithIndex.foldLeft(0L) { case (acc, (m, i)) =>
      if (m > overall) acc | (1L << i) else acc
    }
  }

  def q151ImageAhashDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val hashed = Tables.documents(spark, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        // per-partition "codec init" happens here in a real deployment
        it.map(id => (id, aHash(makePatternBmp((id % 8).toInt))))
      }.toDF("doc_id", "ahash")
    val groups = hashed.groupBy(col("ahash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
    groups.crossJoin(broadcast(
        groups.agg(count(lit(1)).as("n_groups"))))
      .select(col("n_docs"), col("min_doc"), col("max_doc"), col("n_groups"))
      .orderBy(col("min_doc"))
  }

  val q151Oracle: String =
    """WITH g AS (SELECT doc_id % 8 AS s, count(*) AS n_docs,
                    min(doc_id) AS min_doc, max(doc_id) AS max_doc
                  FROM documents GROUP BY 1)
       SELECT n_docs, min_doc, max_doc,
              (SELECT count(*) FROM g) AS n_groups
       FROM g ORDER BY min_doc"""

  // ---------------------------------------------------------------- q153
  /** Audio FRAME-level analysis — real 16-bit PCM parsing, not just the
    * q60 header probe: each WAV is framed (256 samples), per-frame energy
    * is an integer sum of squares (exact at any parallelism — no float
    * accumulation), and silence = zero-energy frames. The corpus is
    * synthesized with seed = doc_id % 4 leading-silence patterns over a
    * fixed 32-frame layout, so silent-frame counts have the closed form
    * (doc_id % 4)·8 that the oracle replays from id arithmetic — the
    * decode→frame→classify path is value-checked without the oracle
    * touching a sample. This is the VAD/segmentation front of an audio
    * training pipeline; the Spark shape is mapPartitions per-partition
    * codec init (q41's rule), map-only, samples never shuffle.
    */
  val Q153Frames = 32
  val Q153SamplesPerFrame = 256

  def makePatternWav(seed: Int): Array[Byte] =
    Wav.mono16(16000, Q153Frames * Q153SamplesPerFrame) { i =>
      if (i / Q153SamplesPerFrame < seed * 8) 0
      else if ((i / 8) % 2 == 0) 1000
      else -1000
    }

  /** (n_frames, n_silent, max_amp) from our fixed mono-16-bit layout. */
  def wavFrameStats(bytes: Array[Byte]): (Long, Long, Long) = {
    val pcm = Wav.pcm(bytes)
    val frames = pcm.n / Q153SamplesPerFrame
    var silent = 0L
    var maxAmp = 0L
    var f = 0
    while (f < frames) {
      var energy = 0L
      var i = f * Q153SamplesPerFrame
      while (i < (f + 1) * Q153SamplesPerFrame) {
        val s = pcm(i).toLong
        energy += s * s
        if (math.abs(s) > maxAmp) maxAmp = math.abs(s)
        i += 1
      }
      if (energy == 0L) silent += 1
      f += 1
    }
    (frames.toLong, silent, maxAmp)
  }

  def q153AudioSilence(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val (frames, silent, maxAmp) = wavFrameStats(makePatternWav((id % 4).toInt))
          (id, frames, silent, maxAmp)
        }
      }.toDF("doc_id", "n_frames", "n_silent", "max_amp")
      .orderBy(col("doc_id"))
  }

  val q153Oracle: String =
    s"""SELECT doc_id, CAST($Q153Frames AS BIGINT) AS n_frames,
       CAST((doc_id % 4) * 8 AS BIGINT) AS n_silent,
       CAST(1000 AS BIGINT) AS max_amp
       FROM documents ORDER BY doc_id"""

  // ---------------------------------------------------------------- q189
  /** Per-pattern pixel intensity histogram over DECODED image bytes — the
    * feature-extraction stage after q151's dedup (exposure/contrast
    * profiling, bucketing images by brightness before a vision model).
    * Every image is synthesized then re-decoded byte-for-byte (BMP header
    * width/height parse, row-stride arithmetic, blue-channel read — the
    * q151 decode, not a shortcut through the synthesis), binned into 8
    * intensity buckets, and aggregated per pattern. The oracle NEVER sees
    * a pixel: it replays the synthesis arithmetic ((x·31 + y·17 + 97·seed)
    * mod 256) over range(64)×range(48) in SQL, so hash equality certifies
    * the whole decode→bin→aggregate path. Scale shape: decode is
    * mapPartitions (per-partition codec init), the aggregate shuffles 8
    * longs per image, never pixels.
    */
  def pixelHistogram(bytes: Array[Byte]): Array[Long] = {
    val img = Bmp.read(bytes)
    val bins = new Array[Long](8)
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        bins(img.blue(x, y) / 32) += 1
        x += 1
      }
      y += 1
    }
    bins
  }

  def q189PixelHistogram(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val hists = Tables.documents(spark, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val p = (id % 8).toInt
          (p.toLong, pixelHistogram(makePatternBmp(p)))
        }
      }.toDF("pattern", "h")
    val aggs = count(lit(1)).as("n_images") +:
      (0 until 8).map(i => min(element_at(col("h"), i + 1)).as(s"b$i"))
    hists.groupBy(col("pattern"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("pattern"))
  }

  val q189Oracle: String =
    """WITH pat AS (SELECT doc_id % 8 AS pattern, count(*) AS n_images
                    FROM documents GROUP BY 1),
       px AS (SELECT p.pattern,
                ((x.i * 31 + y.i * 17 + p.pattern * 97) % 256) // 32 AS bin
              FROM (SELECT DISTINCT doc_id % 8 AS pattern FROM documents) p,
                   range(64) x(i), range(48) y(i)),
       h AS (SELECT pattern, bin, count(*) AS n FROM px GROUP BY 1, 2)
       SELECT p.pattern, p.n_images,
         CAST(COALESCE(min(CASE WHEN bin = 0 THEN n END), 0) AS BIGINT) AS b0,
         CAST(COALESCE(min(CASE WHEN bin = 1 THEN n END), 0) AS BIGINT) AS b1,
         CAST(COALESCE(min(CASE WHEN bin = 2 THEN n END), 0) AS BIGINT) AS b2,
         CAST(COALESCE(min(CASE WHEN bin = 3 THEN n END), 0) AS BIGINT) AS b3,
         CAST(COALESCE(min(CASE WHEN bin = 4 THEN n END), 0) AS BIGINT) AS b4,
         CAST(COALESCE(min(CASE WHEN bin = 5 THEN n END), 0) AS BIGINT) AS b5,
         CAST(COALESCE(min(CASE WHEN bin = 6 THEN n END), 0) AS BIGINT) AS b6,
         CAST(COALESCE(min(CASE WHEN bin = 7 THEN n END), 0) AS BIGINT) AS b7
       FROM pat p JOIN h ON p.pattern = h.pattern
       GROUP BY 1, 2 ORDER BY 1"""

  // ---------------------------------------------------------------- q279
  /** Audio CLIPPING detection — the recording-quality gate next to q153's
    * silence VAD: clipped samples (|s| pinned at the int16 ceiling) mean
    * the source was overdriven and the waveform is unrecoverable; a
    * speech pipeline drops or de-weights such segments. Real byte-level
    * detection: every 16-bit PCM sample is read, clipped samples counted
    * and their LONGEST CONSECUTIVE RUN measured (one isolated peak is
    * benign; a 48-sample plateau is distortion). The fixture plants a
    * run of 32767-samples in every 5th doc with id-derived length, so
    * the oracle replays count/run/ppm from id arithmetic — the whole
    * decode→scan→classify path is value-certified without the oracle
    * touching a sample (the q153 discipline). mapPartitions map-only;
    * samples never shuffle; 4 longs per doc out.
    */
  val Q279Samples = 4096

  def makeClipWav(id: Long): Array[Byte] = {
    val clipLen = if (id % 5 == 0) ((id % 3) + 1).toInt * 16 else 0
    Wav.mono16(16000, Q279Samples) { i =>
      if (i >= 100 && i < 100 + clipLen) 32767
      else if (i % 2 == 0) 2000
      else -2000
    }
  }

  /** (n_samples, n_clipped, max_run) over our mono-16-bit layout:
    * clipped = |s| ≥ 32767 (covers −32768, the other rail).
    */
  def wavClipStats(bytes: Array[Byte]): (Long, Long, Long) = {
    val pcm = Wav.pcm(bytes)
    val nSamples = pcm.n
    var clipped = 0L; var maxRun = 0L; var run = 0L
    var i = 0
    while (i < nSamples) {
      val s = pcm(i)
      if (s >= 32767 || s <= -32768) {
        clipped += 1; run += 1
        if (run > maxRun) maxRun = run
      } else run = 0
      i += 1
    }
    (nSamples.toLong, clipped, maxRun)
  }

  def q279AudioClipping(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val (n, clipped, maxRun) = wavClipStats(makeClipWav(id))
          (id, n, clipped, maxRun, clipped * 1000000L / n)
        }
      }.toDF("doc_id", "n_samples", "n_clipped", "max_clip_run", "clipped_ppm")
      .orderBy(col("doc_id"))
  }

  val q279Oracle: String =
    s"""SELECT doc_id, CAST($Q279Samples AS BIGINT) AS n_samples,
       CAST(CASE WHEN doc_id % 5 = 0 THEN ((doc_id % 3) + 1) * 16 ELSE 0 END AS BIGINT) AS n_clipped,
       CAST(CASE WHEN doc_id % 5 = 0 THEN ((doc_id % 3) + 1) * 16 ELSE 0 END AS BIGINT) AS max_clip_run,
       CAST(CASE WHEN doc_id % 5 = 0 THEN ((doc_id % 3) + 1) * 16 ELSE 0 END
            * 1000000 // $Q279Samples AS BIGINT) AS clipped_ppm
       FROM documents ORDER BY doc_id"""

  // ---------------------------------------------------------------- q330
  /** Audio LOUDNESS normalization — the gain computation every audio
    * ingest runs before training (normalize to a target level, −20 dBFS
    * here): per file, the exact integer sum of squares over the REAL
    * PCM bytes (LE int16 parsed in mapPartitions — samples never leave
    * the partition), dBFS via log10 rounded to milli-dB (the q238
    * round-to-µ discipline — both engines round the same exact-integer
    * ratio), and the milli-dB gain to reach target. The WAV carries a
    * deterministic sample pattern (s_i = (31·id + 17·i) mod 2¹⁶ − 2¹⁵)
    * so the oracle replays the byte-exact energy from SQL — the whole
    * synthesize→binary→parse→normalize path is hash-checked. Shape: one
    * documents id scan; decode is map-only; output is one narrow row
    * per file.
    */
  val Q330Samples = 512

  def makeGainWav(id: Long): Array[Byte] =
    Wav.mono16(16000, Q330Samples)(i => (((id * 31 + i * 17) % 65536) - 32768).toInt)

  def wavSumSq(bytes: Array[Byte]): (Long, Long) = {
    val pcm = Wav.pcm(bytes)
    var s = 0L; var i = 0
    while (i < pcm.n) {
      val v = pcm(i).toLong
      s += v * v; i += 1
    }
    (pcm.n.toLong, s)
  }

  def q330AudioGain(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val (n, sumSq) = wavSumSq(makeGainWav(id))
        (id, n, sumSq)
      }).toDF("doc_id", "n_samples", "sum_sq")
      .withColumn("dbfs_milli", expr(
        "cast(round(10 * log10(cast(sum_sq as double) / (cast(n_samples as double) * 1073741824.0)) * 1000) as bigint)"))
      .withColumn("gain_mdb", expr("cast(-20000 - dbfs_milli as bigint)"))
      .orderBy(col("doc_id"))
  }

  val q330Oracle: String =
    s"""WITH s AS (SELECT d.doc_id,
             CAST(sum(((d.doc_id * 31 + t.i * 17) % 65536 - 32768)
                      * ((d.doc_id * 31 + t.i * 17) % 65536 - 32768)) AS BIGINT) AS sum_sq
           FROM documents d CROSS JOIN range($Q330Samples) t(i)
           GROUP BY 1)
       SELECT doc_id, CAST($Q330Samples AS BIGINT) AS n_samples, sum_sq,
         CAST(round(10 * log10(CAST(sum_sq AS DOUBLE) / ($Q330Samples.0 * 1073741824.0)) * 1000) AS BIGINT)
           AS dbfs_milli,
         CAST(-20000 - CAST(round(10 * log10(CAST(sum_sq AS DOUBLE) / ($Q330Samples.0 * 1073741824.0)) * 1000) AS BIGINT) AS BIGINT)
           AS gain_mdb
       FROM s ORDER BY doc_id"""

  // ---------------------------------------------------------------- q339
  /** ZERO-CROSSING RATE — the classic voiced/unvoiced and
    * frequency-content proxy (high ZCR ⇒ fricatives/noise, low ZCR ⇒
    * voiced speech/tones), the third audio feature after q153's energy
    * and q279's clipping runs. Strict sign flips (sᵢ·sᵢ₋₁ < 0 — zeros
    * never count, so the silent prefix contributes nothing) counted over
    * the decoded 16-bit PCM in the same mapPartitions decode pass as the
    * rest of the audio family: samples never shuffle, each WAV reduces
    * to one (pattern, crossings) row. The synthesized pattern makes the
    * answer closed-form — blocks of 8 samples alternate ±1000 after a
    * `pattern·8`-frame silent prefix, so crossings = (n − z₀)/8 − 1 —
    * and the oracle replays that arithmetic without seeing a byte, so
    * hash equality certifies the whole decode→count path. ZCR in exact
    * ppm of sample transitions.
    */
  def wavZeroCrossings(bytes: Array[Byte]): Long = {
    val pcm = Wav.pcm(bytes)
    var crossings = 0L
    var prev = 0L
    var i = 0
    while (i < pcm.n) {
      val s = pcm(i).toLong
      if (s * prev < 0) crossings += 1
      if (s != 0) prev = s
      i += 1
    }
    crossings
  }

  def q339ZeroCrossing(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val pattern = (id % 4).toInt
          val wav = makePatternWav(pattern)
          (pattern.toLong, Wav.pcm(wav).n.toLong, wavZeroCrossings(wav))
        }
      }.toDF("pattern", "n_samples", "crossings")
      .groupBy(col("pattern"))
      .agg(count(lit(1)).as("n_docs"),
        first(col("n_samples")).as("n_samples"),
        first(col("crossings")).as("crossings_per_doc"),
        expr("cast(first(crossings) * 1000000 div (first(n_samples) - 1) as bigint)")
          .as("zcr_ppm"))
      .orderBy(col("pattern"))
  }

  val q339Oracle: String = {
    val n = Q153Frames * Q153SamplesPerFrame
    s"""SELECT CAST(doc_id % 4 AS BIGINT) AS pattern,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST($n AS BIGINT) AS n_samples,
       CAST(($n - (doc_id % 4) * 8 * $Q153SamplesPerFrame) // 8 - 1 AS BIGINT)
         AS crossings_per_doc,
       CAST((($n - (doc_id % 4) * 8 * $Q153SamplesPerFrame) // 8 - 1) * 1000000
            // (CAST($n AS BIGINT) - 1) AS BIGINT) AS zcr_ppm
       FROM documents GROUP BY doc_id % 4 ORDER BY pattern"""
  }

  // ---------------------------------------------------------------- q355
  /** LETTERBOX / border detection over decoded pixels — the crop-planning
    * pass an image-training pipeline runs before resizing (black bars
    * waste patch tokens and skew aspect-ratio statistics): every image is
    * decoded (byte-level BMP pixel access, the q151 machinery) and its
    * maximal runs of UNIFORM rows at the top and bottom are measured —
    * the letterbox signature. The corpus plants the structure: every 5th
    * doc gets (doc_id % 3 + 1) uniform black rows stamped on both edges
    * of its q151 pattern (whose interior rows are never uniform — the
    * x·31 stride spans the byte range), so detected border widths have a
    * CLOSED FORM the oracle replays from id arithmetic alone, the q151
    * proof shape. Readout per border width: images, total rows a cropper
    * would remove, and the mean crop share of image height in exact ppm.
    * Scale shape: decode + row-scan in mapPartitions (pixels never
    * shuffle; per-partition codec init), the rollup shuffles one small
    * tuple per image.
    */
  def makeBorderedBmp(seed: Int, border: Int): Array[Byte] =
    Bmp.gray(64, 48)((x, y) => if (y < border || y >= 48 - border) 0 else patternPixel(seed)(x, y))

  /** (top, bottom) maximal uniform-row run lengths of a 24-bit BMP. */
  def borderRuns(bytes: Array[Byte]): (Int, Int) = {
    val img = Bmp.read(bytes)
    val h = img.height
    def uniform(y: Int): Boolean = {
      val base = img.rowOffset(y)
      val v = bytes(base)
      var i = 1
      while (i < img.rowLength) {
        if (bytes(base + i) != v) return false
        i += 1
      }
      true
    }
    var top = 0
    while (top < h && uniform(top)) top += 1
    var bottom = 0
    while (bottom < h - top && uniform(h - 1 - bottom)) bottom += 1
    (top, bottom)
  }

  def q355BorderDetect(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val per = Tables.documents(spark, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val b = if (id % 5 == 0) ((id % 3) + 1).toInt else 0
          val (top, bottom) = borderRuns(makeBorderedBmp((id % 8).toInt, b))
          (id, top.toLong, bottom.toLong, 48L)
        }
      }.toDF("doc_id", "top_rows", "bottom_rows", "height")
    per.groupBy((col("top_rows") + col("bottom_rows")).as("border_rows"))
      .agg(count(lit(1)).as("n_images"),
        expr("cast(sum(top_rows + bottom_rows) as bigint)").as("rows_cropped"),
        expr("cast(sum((top_rows + bottom_rows) * 1000000 div height) div count(1) as bigint)")
          .as("mean_crop_ppm"))
      .orderBy(col("border_rows"))
  }

  val q355Oracle: String =
    """WITH b AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN (doc_id % 3 + 1) * 2 ELSE 0 END AS border_rows
           FROM documents)
       SELECT CAST(border_rows AS BIGINT) AS border_rows,
         count(*) AS n_images,
         CAST(sum(border_rows) AS BIGINT) AS rows_cropped,
         CAST(sum(border_rows * 1000000 // 48) // count(*) AS BIGINT) AS mean_crop_ppm
       FROM b GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q356
  /** OTSU binarization threshold per image pattern — the classic
    * histogram-based foreground/background split a vision-data pipeline
    * runs before masking, cropping, or OCR-region detection: for each
    * decoded image the 256-level intensity histogram is computed at the
    * byte level (the q189 decode — header parse, row stride, channel
    * read), and the Otsu threshold is the intensity t maximizing the
    * between-class variance σ²_B(t) = (S·ω₀ − N·s₀)² / (ω₀·(N−ω₀)).
    * Everything stays exact integers: the argmax certificate rides the
    * output as the UNDIVIDED numerator a² = (S·ω₀ − N·s₀)² and
    * denominator ω₀(N−ω₀) (both BIGINT-safe: |a| ≤ S·N ≈ 2.4·10⁹ for a
    * 64×48 image, a² ≤ 5.8·10¹⁸ < 2⁶³), with the ordering key the
    * single-rounded double a²/den — deterministic IEEE on both engines,
    * ties to the smaller t. Scale shape: histograms ride DISTINCT
    * patterns only (images with equal pixel content share the decode —
    * the q189 dedup-before-decode rule), pixels never shuffle
    * (mapPartitions decode → 256-row long form per pattern), and the
    * window math runs on the patterns×levels frame, K-sized. The oracle
    * replays the synthesis arithmetic ((x·31 + y·17 + 97·p) mod 256)
    * over range(64)×range(48) and the identical window algebra, so hash
    * equality certifies decode → histogram → argmax end to end.
    */
  def pixelHistogram256(bytes: Array[Byte]): Array[Long] = {
    val img = Bmp.read(bytes)
    val bins = new Array[Long](256)
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        bins(img.blue(x, y)) += 1
        x += 1
      }
      y += 1
    }
    bins
  }

  def q356OtsuThreshold(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val pats = Tables.documents(spark, d)
      .groupBy((col("doc_id") % 8).as("pattern"))
      .agg(count(lit(1)).as("n_images"))
    val hist = pats.select(col("pattern")).as[Long]
      .mapPartitions { it =>
        it.flatMap { p =>
          val h = pixelHistogram256(makePatternBmp(p.toInt))
          h.iterator.zipWithIndex.collect { case (n, v) if n > 0 => (p, v.toLong, n) }
        }
      }.toDF("pattern", "v", "n")
    val byV = Window.partitionBy(col("pattern")).orderBy(col("v"))
    val whole = Window.partitionBy(col("pattern"))
    val best = hist
      .withColumn("w0", sum(col("n")).over(byV))
      .withColumn("s0", sum(expr("v * n")).over(byV))
      .withColumn("nn", sum(col("n")).over(whole))
      .withColumn("ss", sum(expr("v * n")).over(whole))
      .filter(col("w0") < col("nn")) // both classes nonempty
      .withColumn("a", expr("ss * w0 - nn * s0"))
      .withColumn("a2", expr("cast(a * a as bigint)"))
      .withColumn("den", expr("cast(w0 * (nn - w0) as bigint)"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("pattern"))
        .orderBy((col("a2").cast("double") / col("den")).desc, col("v").asc)))
      .filter(col("rn") === 1)
    pats.join(best, "pattern")
      .select(col("pattern"), col("n_images"), col("v").as("otsu_t"),
        col("a2").as("between_num"), col("den").as("between_den"),
        col("w0").as("n_below"))
      .orderBy(col("pattern"))
  }

  val q356Oracle: String =
    """WITH pats AS (SELECT doc_id % 8 AS pattern, count(*) AS n_images
                     FROM documents GROUP BY 1),
       px AS (SELECT p.pattern, (x.i * 31 + y.i * 17 + p.pattern * 97) % 256 AS v
              FROM (SELECT DISTINCT doc_id % 8 AS pattern FROM documents) p,
                   range(64) x(i), range(48) y(i)),
       hist AS (SELECT pattern, v, count(*) AS n FROM px GROUP BY 1, 2),
       w AS (SELECT pattern, v, n,
               sum(n) OVER (PARTITION BY pattern ORDER BY v) AS w0,
               sum(v * n) OVER (PARTITION BY pattern ORDER BY v) AS s0,
               sum(n) OVER (PARTITION BY pattern) AS nn,
               sum(v * n) OVER (PARTITION BY pattern) AS ss
             FROM hist),
       sc AS (SELECT pattern, v,
                CAST(ss * w0 - nn * s0 AS BIGINT) AS a,
                CAST(w0 * (nn - w0) AS BIGINT) AS den,
                CAST(w0 AS BIGINT) AS w0b
              FROM w WHERE w0 < nn),
       r AS (SELECT pattern, v, CAST(a * a AS BIGINT) AS a2, den, w0b,
               row_number() OVER (PARTITION BY pattern
                 ORDER BY CAST(a * a AS DOUBLE) / den DESC, v ASC) AS rn
             FROM sc)
       SELECT p.pattern, p.n_images, CAST(r.v AS BIGINT) AS otsu_t,
              r.a2 AS between_num, r.den AS between_den, r.w0b AS n_below
       FROM pats p JOIN r ON r.pattern = p.pattern AND r.rn = 1
       ORDER BY p.pattern"""

  // ---------------------------------------------------------------- q359
  /** Audio DECIMATION (integer downsampling) over real PCM bytes — the
    * rate-reduction pass a speech pipeline runs before feature
    * extraction (16 kHz capture → lower-rate model input): every 16-bit
    * sample is read, consecutive groups of 3 are averaged with
    * TRUNCATING integer division (Java `/` here, `//` in the oracle —
    * measured: both truncate toward zero on negatives, and audio
    * samples are signed, so the convention is pinned by test rather
    * than assumed), and the per-doc readout carries the decimated stream's
    * exact integer signature: output length, signed sum, absolute sum,
    * peak, and the count of straddle groups (groups spanning a waveform
    * edge — where decimation actually low-passes; the rest of the groups
    * sit inside a constant run and pass through exactly). The oracle
    * replays the q153 synthesis closed form (silence prefix of seed·8
    * frames, then a ±1000 square wave with half-period 8) over
    * range(2730)×range(3) in SQL. Scale shape: decode + decimate in
    * mapPartitions, map-only — samples never shuffle, one small tuple
    * per doc reaches the exchange.
    */
  val Q359Factor = 3

  def decimateStats(bytes: Array[Byte], r: Int): (Long, Long, Long, Long, Long) = {
    val pcm = Wav.pcm(bytes)
    val nOut = pcm.n / r
    var sumOut = 0L; var sumAbs = 0L; var maxAbs = 0L; var straddle = 0L
    var g = 0
    while (g < nOut) {
      var s = 0L
      val first = pcm(g * r).toLong
      var same = true
      var i = 0
      while (i < r) {
        val v = pcm(g * r + i).toLong
        s += v
        if (v != first) same = false
        i += 1
      }
      val m = s / r // truncating, matching the oracle's `//` (both → 0)
      sumOut += m
      sumAbs += math.abs(m)
      if (math.abs(m) > maxAbs) maxAbs = math.abs(m)
      if (!same) straddle += 1
      g += 1
    }
    (nOut.toLong, sumOut, sumAbs, maxAbs, straddle)
  }

  def q359AudioDecimate(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val (nOut, sumOut, sumAbs, maxAbs, straddle) =
            decimateStats(makePatternWav((id % 4).toInt), Q359Factor)
          (id, nOut, sumOut, sumAbs, maxAbs, straddle)
        }
      }.toDF("doc_id", "n_out", "sum_out", "sum_abs", "max_abs", "n_straddle")
      .orderBy(col("doc_id"))
  }

  val q359Oracle: String = {
    val nOut = Q153Frames * Q153SamplesPerFrame / Q359Factor
    s"""WITH seeds AS (SELECT DISTINCT doc_id % 4 AS seed FROM documents),
       sv AS (SELECT s.seed, g.i AS g,
                sum(CASE WHEN (g.i*3 + k.j) // 256 < s.seed * 8 THEN 0
                         WHEN ((g.i*3 + k.j) // 8) % 2 = 0 THEN 1000 ELSE -1000 END) AS sm,
                min(CASE WHEN (g.i*3 + k.j) // 256 < s.seed * 8 THEN 0
                         WHEN ((g.i*3 + k.j) // 8) % 2 = 0 THEN 1000 ELSE -1000 END) AS mnv,
                max(CASE WHEN (g.i*3 + k.j) // 256 < s.seed * 8 THEN 0
                         WHEN ((g.i*3 + k.j) // 8) % 2 = 0 THEN 1000 ELSE -1000 END) AS mxv
              FROM seeds s, range($nOut) g(i), range(3) k(j)
              GROUP BY 1, 2),
       agg AS (SELECT seed,
                 CAST(sum(sm // 3) AS BIGINT) AS sum_out,
                 CAST(sum(abs(sm // 3)) AS BIGINT) AS sum_abs,
                 CAST(max(abs(sm // 3)) AS BIGINT) AS max_abs,
                 CAST(sum(CASE WHEN mnv <> mxv THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle
               FROM sv GROUP BY 1)
       SELECT d.doc_id, CAST($nOut AS BIGINT) AS n_out, a.sum_out, a.sum_abs,
              a.max_abs, a.n_straddle
       FROM documents d JOIN agg a ON a.seed = d.doc_id % 4
       ORDER BY d.doc_id"""
  }

  // ---------------------------------------------------------------- q384
  /** Image GRADIENT-ENERGY sharpness score — the blur/low-quality image
    * filter a multimodal curation pipeline runs beside the aHash dedup
    * (q151) and Otsu segmentation (q356): total |∂x|+|∂y| first-difference
    * gradient over the decoded grayscale, the classic no-reference
    * sharpness proxy (a blurred image has the same mean but flatter
    * neighbors). The CERTIFICATE is built in: each pattern's horizontally
    * box-blurred twin (radius-1 integer mean, the cheapest possible blur)
    * must score a strictly lower mean gradient per edge — compared by
    * exact cross-multiplication blur_grad·n_edges < grad·n_blur_edges
    * since the two lattices have different edge counts. Decode stays in
    * mapPartitions (pixels never shuffle — the q59/q189 contract); one
    * row per pattern out. The oracle replays pixels, blur, and both
    * gradient sums from the pattern formula on a generated lattice. Full
    * oracle.
    */
  def q384ImageGradient(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val pats = Tables.documents(spark, d)
      .groupBy((col("doc_id") % 8).as("pattern"))
      .agg(count(lit(1)).as("n_images"))
    val grads = pats.select(col("pattern")).as[Long]
      .mapPartitions { it =>
        it.map { p =>
          val img = Bmp.read(makePatternBmp(p.toInt))
          val w = img.width; val h = img.height
          def pix(x: Int, y: Int): Long = img.blue(x, y).toLong
          var gx = 0L; var gy = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              if (x + 1 < w) gx += math.abs(pix(x + 1, y) - pix(x, y))
              if (y + 1 < h) gy += math.abs(pix(x, y + 1) - pix(x, y))
              x += 1
            }
            y += 1
          }
          // radius-1 horizontal box blur (integer mean), interior x only
          def bl(x: Int, y: Int): Long =
            (pix(x - 1, y) + pix(x, y) + pix(x + 1, y)) / 3
          var bgx = 0L; var bgy = 0L
          y = 0
          while (y < h) {
            var x = 1
            while (x < w - 1) {
              if (x + 1 < w - 1) bgx += math.abs(bl(x + 1, y) - bl(x, y))
              if (y + 1 < h) bgy += math.abs(bl(x, y + 1) - bl(x, y))
              x += 1
            }
            y += 1
          }
          val nEdges = ((w - 1).toLong * h) + (w.toLong * (h - 1))
          val nBlurEdges = ((w - 3).toLong * h) + ((w - 2).toLong * (h - 1))
          (p, gx + gy, nEdges, bgx + bgy, nBlurEdges)
        }
      }.toDF("pattern", "grad_total", "n_edges", "blur_grad_total",
        "n_blur_edges")
    pats.join(grads, "pattern")
      .withColumn("blur_lower",
        expr("blur_grad_total * n_edges < grad_total * n_blur_edges"))
      .select(col("pattern"), col("n_images"), col("grad_total"),
        col("n_edges"), col("blur_grad_total"), col("n_blur_edges"),
        col("blur_lower"))
      .orderBy(col("pattern"))
  }

  val q384Oracle: String =
    """WITH pats AS (SELECT doc_id % 8 AS pattern, CAST(count(*) AS BIGINT) AS n_images
                     FROM documents GROUP BY 1),
       px AS (SELECT p.pattern, x.i AS x, y.i AS y,
                (x.i * 31 + y.i * 17 + p.pattern * 97) % 256 AS v
              FROM pats p,
                   (SELECT unnest(generate_series(0, 63)) AS i) x,
                   (SELECT unnest(generate_series(0, 47)) AS i) y),
       g AS (SELECT a.pattern,
               CAST(sum(CASE WHEN b.v IS NULL THEN 0 ELSE abs(b.v - a.v) END) +
                    sum(CASE WHEN c.v IS NULL THEN 0 ELSE abs(c.v - a.v) END) AS BIGINT) AS grad_total
             FROM px a
             LEFT JOIN px b ON b.pattern = a.pattern AND b.y = a.y AND b.x = a.x + 1
             LEFT JOIN px c ON c.pattern = a.pattern AND c.x = a.x AND c.y = a.y + 1
             GROUP BY 1),
       bl AS (SELECT a.pattern, a.x, a.y, (l.v + a.v + r.v) // 3 AS v
              FROM px a
              JOIN px l ON l.pattern = a.pattern AND l.y = a.y AND l.x = a.x - 1
              JOIN px r ON r.pattern = a.pattern AND r.y = a.y AND r.x = a.x + 1),
       bg AS (SELECT a.pattern,
               CAST(sum(CASE WHEN b.v IS NULL THEN 0 ELSE abs(b.v - a.v) END) +
                    sum(CASE WHEN c.v IS NULL THEN 0 ELSE abs(c.v - a.v) END) AS BIGINT) AS blur_grad_total
             FROM bl a
             LEFT JOIN bl b ON b.pattern = a.pattern AND b.y = a.y AND b.x = a.x + 1
             LEFT JOIN bl c ON c.pattern = a.pattern AND c.x = a.x AND c.y = a.y + 1
             GROUP BY 1)
       SELECT p.pattern, p.n_images, g.grad_total,
         CAST(63 * 48 + 64 * 47 AS BIGINT) AS n_edges,
         bg.blur_grad_total,
         CAST(61 * 48 + 62 * 47 AS BIGINT) AS n_blur_edges,
         bg.blur_grad_total * (63 * 48 + 64 * 47) <
           g.grad_total * (61 * 48 + 62 * 47) AS blur_lower
       FROM pats p JOIN g ON g.pattern = p.pattern
       JOIN bg ON bg.pattern = p.pattern
       ORDER BY p.pattern"""

  // ---------------------------------------------------------------- q396
  /** AUDIO LAG ALIGNMENT by integer cross-correlation — the
    * echo/offset detector a multimodal dedup pipeline runs when two
    * recordings might be the same take shifted in time (q151's aHash
    * answers it for images; amplitude stats q153/q279 can't see a pure
    * shift): signal B is A delayed by a PLANTED lag of seed·3+2 samples,
    * and the detector scores Σ A[i−lag]·B[i] (exact integer dot — the
    * samples are ±1000/0 shorts) over candidate lags 0..15, argmax must
    * recover the plant exactly. The square-wave period is 16, so the lag
    * window equals one period — unique peak, with the antiphase lag
    * scoring NEGATIVE (reported as the separation audit). Decode + both
    * correlations stay in mapPartitions (samples never shuffle); one row
    * per pattern. Full oracle replays the sample formula, the delay, and
    * all 16 lag scores.
    */
  def q396AudioLagAlign(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val pats = Tables.documents(spark, d)
      .groupBy((col("doc_id") % 4).as("seed"))
      .agg(count(lit(1)).as("n_docs"))
    val det = pats.select(col("seed")).as[Long]
      .mapPartitions { it =>
        it.map { seed =>
          val pcm = Wav.pcm(makePatternWav(seed.toInt))
          val n = pcm.n
          def a(i: Int): Long = if (i < 0 || i >= n) 0L else pcm(i).toLong
          val k = (seed * 3 + 2).toInt
          def b(i: Int): Long = a(i - k)
          val scores = (0 until 16).map { lag =>
            var s = 0L; var i = 0
            while (i < n) { s += a(i - lag) * b(i); i += 1 }
            (lag.toLong, s)
          }
          val best = scores.maxBy { case (lag, s) => (s, -lag) }
          val second = scores.filter(_._1 != best._1).map(_._2).max
          (seed, k.toLong, best._1, best._2, second)
        }
      }.toDF("seed", "planted_lag", "detected_lag", "peak_score", "second_score")
    pats.join(det, "seed")
      .withColumn("recovered", col("detected_lag") === col("planted_lag"))
      .select(col("seed"), col("n_docs"), col("planted_lag"),
        col("detected_lag"), col("peak_score"), col("second_score"),
        col("recovered"))
      .orderBy(col("seed"))
  }

  val q396Oracle: String = {
    val n = Q153Frames * Q153SamplesPerFrame
    s"""WITH pats AS (SELECT doc_id % 4 AS seed, CAST(count(*) AS BIGINT) AS n_docs
                      FROM documents GROUP BY 1),
       sig AS (SELECT p.seed, i.i,
                 CASE WHEN i.i // 256 < p.seed * 8 THEN 0
                   WHEN (i.i // 8) % 2 = 0 THEN 1000 ELSE -1000 END AS v
               FROM pats p, range($n) i(i)),
       lags AS (SELECT unnest(generate_series(0, 15)) AS lag),
       sc AS (SELECT s.seed, l.lag,
                CAST(sum(
                  (CASE WHEN s.i - l.lag < 0 THEN 0
                    WHEN (s.i - l.lag) // 256 < s.seed * 8 THEN 0
                    WHEN ((s.i - l.lag) // 8) % 2 = 0 THEN 1000 ELSE -1000 END)
                  * (CASE WHEN s.i - (s.seed * 3 + 2) < 0 THEN 0
                    WHEN (s.i - (s.seed * 3 + 2)) // 256 < s.seed * 8 THEN 0
                    WHEN ((s.i - (s.seed * 3 + 2)) // 8) % 2 = 0 THEN 1000 ELSE -1000 END)
                ) AS BIGINT) AS s
              FROM sig s, lags l GROUP BY 1, 2),
       best AS (SELECT seed, arg_max(lag, s * 16 + (15 - lag)) AS detected_lag,
                  CAST(max(s) AS BIGINT) AS peak_score
                FROM sc GROUP BY 1),
       sec AS (SELECT sc.seed, CAST(max(sc.s) AS BIGINT) AS second_score
               FROM sc JOIN best b ON b.seed = sc.seed AND sc.lag <> b.detected_lag
               GROUP BY 1)
       SELECT p.seed, p.n_docs, CAST(p.seed * 3 + 2 AS BIGINT) AS planted_lag,
         CAST(b.detected_lag AS BIGINT) AS detected_lag, b.peak_score,
         s.second_score,
         b.detected_lag = p.seed * 3 + 2 AS recovered
       FROM pats p JOIN best b ON b.seed = p.seed JOIN sec s ON s.seed = p.seed
       ORDER BY p.seed"""
  }

  // ---------------------------------------------------------------- q398
  /** IMAGE PATCH EXTRACTION (ViT-style patchify) — the preprocessing
    * plumbing a vision-encoder training pipeline runs on every image: the
    * 64×48 grayscale splits into an 8×6 grid of 8×8 patches, each patch
    * emitting its exact integer stats (sum, min, max) under an explicit
    * (pattern, tx, ty) schema — the layout a downstream embedder consumes
    * patch-by-patch. The CONSERVATION certificate rides every row: the
    * 48 patch sums of a pattern must add back to the whole-image pixel
    * sum exactly (a lost or doubled border row breaks it loudly). Decode
    * + patchify in mapPartitions (pixels never shuffle; rows out = 48 per
    * pattern, not 3072 pixels). Full oracle replays the pattern formula
    * per patch cell. */
  def q398ImagePatches(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val pats = Tables.documents(spark, d)
      .groupBy((col("doc_id") % 8).as("pattern"))
      .agg(count(lit(1)).as("n_images"))
    val patches = pats.select(col("pattern")).as[Long]
      .mapPartitions { it =>
        it.flatMap { p =>
          val img = Bmp.read(makePatternBmp(p.toInt))
          var total = 0L
          val rows = for (ty <- 0 until img.height / 8; tx <- 0 until img.width / 8) yield {
            var s = 0L; var mn = 255L; var mx = 0L
            for (dy <- 0 until 8; dx <- 0 until 8) {
              val v = img.blue(tx * 8 + dx, ty * 8 + dy).toLong
              s += v; if (v < mn) mn = v; if (v > mx) mx = v
            }
            total += s
            (p, tx.toLong, ty.toLong, s, mn, mx)
          }
          rows.map { case (pp, tx, ty, s, mn, mx) => (pp, tx, ty, s, mn, mx, total) }
        }
      }.toDF("pattern", "tx", "ty", "px_sum", "px_min", "px_max", "img_sum")
    pats.join(patches, "pattern")
      .withColumn("conserved", expr(
        "cast(sum(px_sum) OVER (PARTITION BY pattern) as bigint) = img_sum"))
      .select(col("pattern"), col("tx"), col("ty"), col("px_sum"),
        col("px_min"), col("px_max"), col("img_sum"), col("conserved"))
      .orderBy(col("pattern"), col("ty"), col("tx"))
  }

  val q398Oracle: String =
    """WITH pats AS (SELECT doc_id % 8 AS pattern FROM documents GROUP BY 1),
       px AS (SELECT p.pattern, x.i AS x, y.i AS y,
                (x.i * 31 + y.i * 17 + p.pattern * 97) % 256 AS v
              FROM pats p,
                   (SELECT unnest(generate_series(0, 63)) AS i) x,
                   (SELECT unnest(generate_series(0, 47)) AS i) y),
       pat AS (SELECT pattern, x // 8 AS tx, y // 8 AS ty,
                 CAST(sum(v) AS BIGINT) AS px_sum,
                 CAST(min(v) AS BIGINT) AS px_min,
                 CAST(max(v) AS BIGINT) AS px_max
               FROM px GROUP BY 1, 2, 3),
       tot AS (SELECT pattern, CAST(sum(px_sum) AS BIGINT) AS img_sum FROM pat GROUP BY 1)
       SELECT CAST(p.pattern AS BIGINT) AS pattern, CAST(p.tx AS BIGINT) AS tx,
         CAST(p.ty AS BIGINT) AS ty, p.px_sum, p.px_min, p.px_max,
         t.img_sum,
         CAST(sum(p.px_sum) OVER (PARTITION BY p.pattern) AS BIGINT) = t.img_sum AS conserved
       FROM pat p JOIN tot t ON t.pattern = p.pattern
       ORDER BY p.pattern, p.ty, p.tx"""

  // ---------------------------------------------------------------- q404
  /** QUANTIZED RUN-LENGTH compression estimate per image — the
    * posterized-thumbnail storage question (q403 asks it for posting
    * lists, q387 for time series; this is the pixel-domain member): after
    * 4-level quantization (v div 64 — the palette a thumbnail cache
    * stores), each scanline becomes runs of equal levels, and RLE cost is
    * 2 bytes per run (level, length ≤ 255) vs 1 byte per raw pixel. The
    * readout per pattern: run count, the exact ratio in ppm, and the
    * CONSERVATION certificate (the decoder saw exactly w·h pixels — a
    * dropped scanline breaks it loudly, the q398 contract). Decode +
    * run-count in mapPartitions over REAL BMP bytes (pixels never
    * shuffle; one row out per pattern). Full oracle replays the pattern
    * pixel formula, the quantization, and the run starts with a lag
    * window.
    */
  def q404RleEstimate(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val pats = Tables.documents(spark, d)
      .groupBy((col("doc_id") % 8).as("pattern"))
      .agg(count(lit(1)).as("n_images"))
    val runs = pats.select(col("pattern")).as[Long]
      .mapPartitions { it =>
        it.map { p =>
          val img = Bmp.read(makePatternBmp(p.toInt))
          var nRuns = 0L; var nPix = 0L
          for (y <- 0 until img.height) {
            var prev = -1L
            for (x <- 0 until img.width) {
              val q = img.blue(x, y) / 64L
              nPix += 1
              if (q != prev) { nRuns += 1; prev = q }
            }
          }
          (p, nRuns, nPix)
        }
      }.toDF("pattern", "n_runs", "n_pixels")
    pats.join(runs, "pattern")
      .select(col("pattern"), col("n_images"), col("n_runs"), col("n_pixels"),
        expr("n_pixels = 3072").as("conserved"),
        expr("cast(n_runs * 2 * 1000000 div n_pixels as bigint)").as("rle_ratio_ppm"))
      .orderBy(col("pattern"))
  }

  val q404Oracle: String =
    """WITH pats AS (SELECT doc_id % 8 AS pattern, count(*) AS n_images
           FROM documents GROUP BY 1),
       px AS (SELECT p.pattern, y.i AS y, x.i AS x,
                ((x.i * 31 + y.i * 17 + p.pattern * 97) % 256) // 64 AS q
              FROM (SELECT DISTINCT pattern FROM pats) p,
                   (SELECT unnest(generate_series(0, 63)) AS i) x,
                   (SELECT unnest(generate_series(0, 47)) AS i) y),
       r AS (SELECT pattern, y, x, q,
               CASE WHEN lag(q) OVER (PARTITION BY pattern, y ORDER BY x ASC)
                    IS DISTINCT FROM q THEN 1 ELSE 0 END AS st
             FROM px),
       agg AS (SELECT pattern, CAST(sum(st) AS BIGINT) AS n_runs,
                 CAST(count(*) AS BIGINT) AS n_pixels
               FROM r GROUP BY 1)
       SELECT CAST(p.pattern AS BIGINT) AS pattern,
         CAST(p.n_images AS BIGINT) AS n_images, a.n_runs, a.n_pixels,
         a.n_pixels = 3072 AS conserved,
         CAST(a.n_runs * 2 * 1000000 // a.n_pixels AS BIGINT) AS rle_ratio_ppm
       FROM pats p JOIN agg a USING (pattern) ORDER BY p.pattern"""

  // ---------------------------------------------------------------- q412
  /** DPCM BIT-COST ESTIMATE over real PCM bytes — q387's delta encoding
    * argument applied to the audio lane (q404 to pixels, q403 to
    * postings): a square-wave-ish signal has tiny first differences most
    * samples, so charging bits(|Δ|)+1 per sample (first charged 16)
    * measures how far below 16·n a delta codec lands — the number that
    * picks PCM vs DPCM for an audio landing zone. Exact integer cost
    * model (bits = binary-string length, the q387/q403 convention), full
    * decode in mapPartitions over REAL WAV bytes (samples never shuffle;
    * one row out per pattern), conservation certificate (decoder saw
    * exactly n samples). Full oracle replays the synth signal formula,
    * the deltas, and the bit charges.
    */
  def q412DpcmEstimate(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val pats = Tables.documents(spark, d)
      .groupBy((col("doc_id") % 4).as("seed"))
      .agg(count(lit(1)).as("n_docs"))
    val costs = pats.select(col("seed")).as[Long]
      .mapPartitions { it =>
        it.map { p =>
          val pcm = Wav.pcm(makePatternWav(p.toInt))
          val n = pcm.n
          var bits = 0L
          var prev = 0L
          var i = 0
          while (i < n) {
            val s = pcm(i).toLong
            bits += (if (i == 0) 16L
                     else java.lang.Long.toBinaryString(math.abs(s - prev)).length + 1L)
            prev = s
            i += 1
          }
          (p, n.toLong, bits)
        }
      }.toDF("seed", "n_samples", "dpcm_bits")
    pats.join(costs, "seed")
      .select(col("seed"), col("n_docs"), col("n_samples"),
        (col("n_samples") === lit(Q153Frames.toLong * Q153SamplesPerFrame)).as("conserved"),
        col("dpcm_bits"),
        expr("n_samples * 16").as("raw_bits"),
        expr("dpcm_bits * 1000000 div (n_samples * 16)").as("ratio_ppm"))
      .orderBy(col("seed"))
  }

  val q412Oracle: String = {
    val n = Q153Frames * Q153SamplesPerFrame
    s"""WITH pats AS (SELECT doc_id % 4 AS seed, CAST(count(*) AS BIGINT) AS n_docs
                      FROM documents GROUP BY 1),
       sig AS (SELECT p.seed, i.i,
                 CASE WHEN i.i // 256 < p.seed * 8 THEN 0
                   WHEN (i.i // 8) % 2 = 0 THEN 1000 ELSE -1000 END AS v
               FROM (SELECT DISTINCT seed FROM pats) p, range($n) i(i)),
       dd AS (SELECT seed, i, v,
                v - lag(v) OVER (PARTITION BY seed ORDER BY i ASC) AS d
              FROM sig),
       b AS (SELECT seed,
               CASE WHEN d IS NULL THEN 16 ELSE len(bin(abs(d))) + 1 END AS bits
             FROM dd),
       agg AS (SELECT seed, CAST(sum(bits) AS BIGINT) AS dpcm_bits,
                 CAST(count(*) AS BIGINT) AS n_samples
               FROM b GROUP BY 1)
       SELECT CAST(p.seed AS BIGINT) AS seed, p.n_docs, a.n_samples,
         a.n_samples = $n AS conserved, a.dpcm_bits,
         CAST(a.n_samples * 16 AS BIGINT) AS raw_bits,
         CAST(a.dpcm_bits * 1000000 // (a.n_samples * 16) AS BIGINT) AS ratio_ppm
       FROM pats p JOIN agg a USING (seed) ORDER BY p.seed"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q404_rle_estimate" -> q404RleEstimate _,
    "q412_dpcm_estimate" -> q412DpcmEstimate _,
    "q398_image_patches" -> q398ImagePatches _,
    "q396_audio_lag_align" -> q396AudioLagAlign _,
    "q384_image_gradient" -> q384ImageGradient _,
    "q356_otsu_threshold" -> q356OtsuThreshold _,
    "q359_audio_decimate" -> q359AudioDecimate _,
    "q355_border_detect" -> q355BorderDetect _,
    "q339_zero_crossing" -> q339ZeroCrossing _,
    "q330_audio_gain" -> q330AudioGain _,
    "q279_audio_clipping" -> q279AudioClipping _,
    "q189_pixel_histogram" -> q189PixelHistogram _,
    "q153_audio_silence" -> q153AudioSilence _,
    "q151_image_ahash_dedup" -> q151ImageAhashDedup _,
    "q41_multimodal_decode" -> q41MultimodalDecode _,
    "q42_multimodal_frame_sample" -> q42FrameSamplePlan _,
    "q50_multimodal_binaryfile_source" -> q50BinaryFileSource _,
    "q59_multimodal_bmp_decode" -> q59BmpDecode _,
    "q60_multimodal_wav_decode" -> q60WavDecode _)

  val oracles: Map[String, String] = Map(
    "q398_image_patches" -> q398Oracle,
    "q404_rle_estimate" -> q404Oracle,
    "q412_dpcm_estimate" -> q412Oracle,
    "q396_audio_lag_align" -> q396Oracle,
    "q384_image_gradient" -> q384Oracle,
    "q356_otsu_threshold" -> q356Oracle,
    "q359_audio_decimate" -> q359Oracle,
    "q355_border_detect" -> q355Oracle,
    "q339_zero_crossing" -> q339Oracle,
    "q330_audio_gain" -> q330Oracle,
    "q279_audio_clipping" -> q279Oracle,
    "q189_pixel_histogram" -> q189Oracle,
    "q153_audio_silence" -> q153Oracle,
    "q151_image_ahash_dedup" -> q151Oracle,
    "q41_multimodal_decode" -> q41Oracle,
    "q42_multimodal_frame_sample" -> q42Oracle,
    "q50_multimodal_binaryfile_source" -> q50Oracle,
    "q59_multimodal_bmp_decode" -> q59Oracle,
    "q60_multimodal_wav_decode" -> q60Oracle)
}

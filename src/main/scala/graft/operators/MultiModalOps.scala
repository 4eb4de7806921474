package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** One opaque media payload: the multimodal column convention — raw bytes
  * plus typed metadata travelling beside them (images/audio/video are this
  * exact shape with a different decoder). */
case class MediaPayload(doc_id: Long, payload: Array[Byte], media_type: String)

/** Deterministic per-payload features produced by the (stubbed) decode
  * stage. */
case class MediaFeatures(
    doc_id: Long, media_type: String, n_bytes: Int, n_distinct_bytes: Int,
    max_run_length: Int, byte_mean: Double)

/** One real WAV container payload awaiting decode. */
case class WavPayload(doc_id: Long, payload: Array[Byte])

/** One real BMP container payload awaiting decode. */
case class BmpPayload(doc_id: Long, payload: Array[Byte])

/** Features extracted by genuinely parsing a BMP container — all-integer
  * so the DuckDB oracle hash-matches exactly. */
case class BmpFeatures(
    doc_id: Long, width: Int, height: Int, bpp: Int, row_stride: Int,
    n_pixels: Int, container_bytes: Int, max_byte: Int, pixel_sum: Long,
    top_row_checksum: Long)

/** Features extracted by genuinely parsing a RIFF/WAVE container: the
  * format fields come from the `fmt ` chunk, the sample statistics from
  * walking the `data` chunk's little-endian PCM16 frames. All-integer so
  * the DuckDB oracle hash-matches exactly. */
case class WavFeatures(
    doc_id: Long, sample_rate: Int, n_channels: Int, bits_per_sample: Int,
    n_samples: Long, container_bytes: Int, peak_abs: Int, energy: Long)

/** Integer-decimation resample features of one parsed WAV
  * (all-integer). */
case class WavResampled(
    doc_id: Long,
    in_rate: Int,
    out_rate: Int,
    n_in: Long,
    n_out: Long,
    peak_abs: Int,
    energy: Long)

/** One multi-frame video container payload awaiting frame sampling. */
case class VideoPayload(doc_id: Long, payload: Array[Byte])

/** Frame-sampling features of one multi-frame video container
  * (all-integer). */
case class VideoFrameSample(
    doc_id: Long,
    n_frames: Int,
    frame_w: Int,
    frame_h: Int,
    n_sampled: Int,
    sampled_pixel_sum: Long,
    sampled_max_byte: Int)

/** Block-mean downsample + average-hash features of one decoded image
  * (all-integer: means are floor divisions, the hash threshold is a
  * cross-multiplied exact comparison). */
case class BmpResized(
    doc_id: Long,
    grid_w: Int,
    grid_h: Int,
    n_pixels: Int,
    resize_checksum: Long,
    ahash: Int)

/** One real PNG container payload awaiting decode. */
case class PngPayload(doc_id: Long, payload: Array[Byte])

/** Features extracted by genuinely parsing a PNG container: dimensions
  * and format from IHDR, pixel statistics from the inflated + defiltered
  * scanlines. All-integer so the DuckDB oracle hash-matches exactly. */
case class PngFeatures(
    doc_id: Long, width: Int, height: Int, bit_depth: Int, color_type: Int,
    n_chunks: Int, n_pixels: Int, raw_bytes: Int, max_byte: Int,
    pixel_sum: Long, bottom_row_checksum: Long)

/** Multimodal-column operators (builder-brief extension; no reference
  * counterpart — the reference is purely relational/JSON).
  *
  * The convention for image/audio/video at 100 TB is exactly what these
  * operators exercise: an opaque `binary` payload column with typed
  * metadata beside it, nested array-of-struct columns for per-segment
  * structure (pages/frames/windows), and a partition-parallel decode
  * stage. Two decoders ride that stage: [[wavDecode]], a REAL RIFF/WAVE
  * parser (the format is a public byte layout, so no codec library is
  * needed — chunk walking, fmt fields, LE PCM16 samples, oracle-checked
  * end to end), and [[decodeStub]], a deterministic byte-statistics
  * stand-in for formats whose codecs this container lacks (JPEG/OPUS/
  * H.264). Swapping a JNI/library decoder into the stub changes one
  * function body, not the pipeline.
  */
object MultiModalOps {

  /** Characters per synthesized page (chunking unit for the nested
    * pipeline below). */
  val PageChars = 256

  /** Opaque-binary payload stats — the first pass a pipeline runs over a
    * media column it has not decoded yet: byte length, content hash, and
    * a leading-bytes "magic" tag (format sniffing), plus the chunk count
    * a fixed-size splitter would produce. The payload is the document
    * text cast to binary (the testdata has no media table); every
    * operation is the binary-column operation, not a string one. */
  def binaryDocStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("payload_md5"),
        hex(substring(col("payload"), 1, 4)).as("magic_hex"),
        ceil(octet_length(col("payload")).cast("double") / PageChars)
          .cast("int").as("n_chunks"))
      .orderBy("doc_id")

  /** Nested array-of-struct pipeline: build a `pages` column
    * (array<struct<page_no,int body:string>>) by fixed-size chunking,
    * explode it, and re-aggregate per document — the build/explode/
    * re-agg cycle every multimodal pipeline runs over per-frame or
    * per-page structure. The nested column is materialized mid-plan
    * (posexplode of an array of structs), not simulated. */
  def docPageStats(spark: SparkSession, dir: String): DataFrame = {
    // greatest(…, 1): an empty document is one empty page, so the
    // sequence below never runs descending (sequence(0, -1) would).
    val paged = Tables.documents(spark, dir)
      .withColumn("n_pages",
        greatest(ceil(length(col("text")).cast("double") / PageChars), lit(1))
          .cast("int"))
      .withColumn("pages", expr(
        s"""transform(sequence(0, n_pages - 1), i ->
              named_struct(
                'page_no', i,
                'body', substring(text, i * $PageChars + 1, $PageChars)))"""))
    paged
      .select(col("doc_id"), col("n_pages"),
        posexplode(col("pages")).as(Seq("pos", "page")))
      .groupBy("doc_id", "n_pages")
      .agg(
        sum(length(col("page.body")).cast("long")).as("total_chars"),
        max(length(col("page.body"))).as("max_page_chars"),
        min(when(col("page.page_no") === 0, md5(col("page.body"))))
          .as("first_page_md5"))
      .select("doc_id", "n_pages", "total_chars", "max_page_chars",
        "first_page_md5")
      .orderBy("doc_id")
  }

  /** The decode stage: partition-parallel feature extraction over opaque
    * payloads via `mapPartitions` — the Scala analog of a vectorized
    * Python `mapInPandas` decode. Each partition's iterator is consumed
    * once, payload by payload; a real pipeline would decode
    * images/audio here (that library dependency is what this container
    * lacks), so the body computes deterministic byte statistics instead —
    * the DISTRIBUTION shape (no driver collect, no global state, output
    * row per input row) is the part that matters at 100 TB.
    * STUB: byte-stats stand in for codec feature extraction. */
  def decodeStub(payloads: Dataset[MediaPayload]): Dataset[MediaFeatures] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      it.map { m =>
        val bytes = m.payload
        var maxRun = 0
        var run = 0
        var prev = -1
        var sum = 0L
        val seen = new Array[Boolean](256)
        var i = 0
        while (i < bytes.length) {
          val b = bytes(i) & 0xff
          seen(b) = true
          sum += b
          if (b == prev) run += 1 else { prev = b; run = 1 }
          if (run > maxRun) maxRun = run
          i += 1
        }
        MediaFeatures(
          m.doc_id, m.media_type, bytes.length, seen.count(identity),
          maxRun,
          if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length)
      }
    }
  }

  /** Documents as a media-payload dataset (text bytes standing in for an
    * undecoded media column). */
  def documentPayloads(spark: SparkSession, dir: String)
      : Dataset[MediaPayload] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        lit("text/plain").as("media_type"))
      .as[MediaPayload]
  }

  // --------------------------------------------------------------------
  // Real codec: RIFF/WAVE (PCM16 mono). The container has no image/audio
  // libraries, but WAVE needs none — the format is a public byte layout
  // (RIFF chunks + little-endian PCM), so the decode stage can be a REAL
  // parser rather than a stub: it validates magics, walks the chunk
  // list, reads the format fields out of `fmt `, and computes sample
  // statistics from the `data` frames. Any byte-offset or endianness bug
  // in EITHER the encoder or the parser breaks the oracle hash match,
  // because the DuckDB oracle recomputes the features from first
  // principles without ever seeing the container.
  // --------------------------------------------------------------------

  /** Synthesized-audio parameters: PCM16 mono at 8 kHz; one sample per
    * text character, clamped to [1, [[WavMaxSamples]]]. */
  val WavSampleRate = 8000
  val WavMaxSamples = 256

  /** Deterministic PCM sample `i` for document `docId` — a full-range
    * 16-bit value derived from (docId, i) so the oracle can recompute it
    * in SQL without the container. */
  @inline def wavSample(docId: Long, i: Int): Int =
    (((docId * 31L + i * 17L) % 65536L) - 32768L).toInt

  /** Encode a genuine RIFF/WAVE container: `RIFF` header, `fmt ` chunk
    * (PCM, mono, 8 kHz, 16-bit), `data` chunk with little-endian PCM16
    * samples. Runs partition-parallel over (doc_id, n_samples) rows —
    * the synth stage of the pipeline; a real corpus would carry these
    * bytes in from storage instead. */
  def wavEncode(rows: Dataset[(Long, Int)]): Dataset[WavPayload] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { case (docId, n) =>
        val dataBytes = 2 * n
        val buf = java.nio.ByteBuffer.allocate(44 + dataBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        buf.put("RIFF".getBytes("US-ASCII"))
        buf.putInt(36 + dataBytes)              // RIFF payload size
        buf.put("WAVE".getBytes("US-ASCII"))
        buf.put("fmt ".getBytes("US-ASCII"))
        buf.putInt(16)                          // PCM fmt chunk size
        buf.putShort(1)                         // audio format: PCM
        buf.putShort(1)                         // channels: mono
        buf.putInt(WavSampleRate)
        buf.putInt(WavSampleRate * 2)           // byte rate
        buf.putShort(2)                         // block align
        buf.putShort(16)                        // bits per sample
        buf.put("data".getBytes("US-ASCII"))
        buf.putInt(dataBytes)
        var i = 0
        while (i < n) { buf.putShort(wavSample(docId, i).toShort); i += 1 }
        WavPayload(docId, buf.array())
      }
    }
  }

  // Little-endian readers over container bytes, shared by the WAV and
  // BMP parsers below.
  private def u16le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def i32le(b: Array[Byte], o: Int): Int = u32le(b, o).toInt
  private def tag4(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")
  /** Signed PCM16 sample at byte offset `o` (sign-extended LE16). */
  private def pcm16(b: Array[Byte], o: Int): Int = u16le(b, o).toShort.toInt

  /** Format fields and `data` chunk location of a validated WAV. */
  private final case class WavChunks(sampleRate: Int, channels: Int,
      bits: Int, blockAlign: Int, dataOff: Int, dataLen: Long)

  /** The one RIFF/WAVE chunk walk: validates the `RIFF`/`WAVE` magics
    * and the declared RIFF size, walks the chunk list (honoring odd-size
    * pad bytes, as the spec requires; a chunk that overruns the container
    * throws), reads the PCM format fields from `fmt ` and requires PCM16
    * mono with blockAlign 2. Malformed containers throw (corruption is a
    * signal, not a skip); messages name the calling `stage` and doc. */
  private def wavChunks(b: Array[Byte], stage: String,
      docId: Long): WavChunks = {
    require(b.length >= 12 && tag4(b, 0) == "RIFF" && tag4(b, 8) == "WAVE",
      s"$stage: not a RIFF/WAVE container (doc $docId)")
    require(u32le(b, 4) == b.length - 8,
      s"$stage: RIFF size ${u32le(b, 4)} != ${b.length - 8} (doc $docId)")
    var off = 12
    var sampleRate = -1; var channels = -1; var bits = -1
    var blockAlign = -1; var dataOff = -1; var dataLen = -1L
    while (off + 8 <= b.length) {
      val id = tag4(b, off); val sz = u32le(b, off + 4)
      require(off + 8 + sz <= b.length,
        s"$stage: chunk '$id' overruns container (doc $docId)")
      id match {
        case "fmt " =>
          require(u16le(b, off + 8) == 1, s"$stage: not PCM (doc $docId)")
          channels = u16le(b, off + 10)
          sampleRate = u32le(b, off + 12).toInt
          blockAlign = u16le(b, off + 20)
          bits = u16le(b, off + 22)
        case "data" => dataOff = off + 8; dataLen = sz
        case _ => // unknown chunks are legal; skip
      }
      off += 8 + sz.toInt + (sz.toInt & 1) // odd chunks carry a pad byte
    }
    require(sampleRate > 0 && dataOff >= 0,
      s"$stage: missing fmt/data chunk (doc $docId)")
    require(bits == 16 && channels == 1 && blockAlign == 2,
      s"$stage: expected PCM16 mono with blockAlign 2, got " +
        s"bits=$bits channels=$channels blockAlign=$blockAlign (doc $docId)")
    WavChunks(sampleRate, channels, bits, blockAlign, dataOff, dataLen)
  }

  /** `documents` → (doc_id, n) with n = length(text) clamped to
    * [1, [[WavMaxSamples]]]: the sample count of each synthesized WAV. */
  private def wavInputs(spark: SparkSession,
      dir: String): Dataset[(Long, Int)] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        least(greatest(coalesce(length(col("text")), lit(0)), lit(1)),
          lit(WavMaxSamples)).cast("int").as("n"))
      .as[(Long, Int)]
  }

  /** REAL RIFF/WAVE parser: the [[wavChunks]] walk, then the `data`
    * chunk's little-endian 16-bit frames for peak amplitude and total
    * energy (sum of squares — each term ≤ 2³⁰, so the Long sum is exact
    * below ~2³³ samples; far above any real audio clip).
    * Partition-parallel, one output row per payload — the decode-stage
    * contract. */
  def wavDecode(payloads: Dataset[WavPayload]): Dataset[WavFeatures] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      it.map { p =>
        val b = p.payload
        val c = wavChunks(b, "wav_decode", p.doc_id)
        val nSamples = c.dataLen / c.blockAlign
        var i = 0; var peak = 0; var energy = 0L
        while (i < nSamples) {
          val s = pcm16(b, c.dataOff + 2 * i)
          val a = math.abs(s)
          if (a > peak) peak = a
          energy += s.toLong * s.toLong
          i += 1
        }
        WavFeatures(p.doc_id, c.sampleRate, c.channels, c.bits, nSamples,
          b.length, peak, energy)
      }
    }
  }

  /** Audio decimation factor for [[wavResample]] (shared with the
    * oracle): keep every [[WavDecim]]-th sample — 8 kHz → 4 kHz. */
  val WavDecim = 2

  /** Clipping threshold (abs PCM16 amplitude) for [[audioClipping]]. */
  val ClipAbs = 32000

  /** Silence threshold (abs PCM16 amplitude) for [[audioClipping]]. */
  val SilenceAbs = 256

  /** Audio QUALITY census off the real WAV chunk walk — the two
    * defects an audio-ingest gate screens for: CLIPPING (samples at
    * the rail, |s| ≥ [[ClipAbs]] — recorded too hot, distortion) and
    * SILENCE RUNS (maximal stretches of |s| ≤ [[SilenceAbs]] — dead
    * air that wastes training tokens; their count and longest length
    * drive a trim/split decision). One pass over the PCM frames per
    * container, all-integer, run accounting by the same ±1-boundary
    * rule as every gap-island op. Parsed by the same [[wavChunks]] walk
    * as [[wavDecode]]. */
  def audioClipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    wavEncode(wavInputs(spark, dir)).mapPartitions { it =>
      it.map { p =>
        val b = p.payload
        val c = wavChunks(b, "audio_clipping", p.doc_id)
        val n = (c.dataLen / 2).toInt
        var i = 0
        var nClipped = 0L; var nSilent = 0L
        var nRuns = 0L; var longest = 0L; var cur = 0L
        while (i < n) {
          val a = math.abs(pcm16(b, c.dataOff + 2 * i))
          if (a >= ClipAbs) nClipped += 1
          if (a <= SilenceAbs) {
            nSilent += 1
            if (cur == 0) nRuns += 1
            cur += 1
            if (cur > longest) longest = cur
          } else cur = 0
          i += 1
        }
        (p.doc_id, n.toLong, nClipped, (nClipped * 1000) / n,
          nSilent, nRuns, longest)
      }
    }.toDF("doc_id", "n_samples", "n_clipped", "clip_mille",
        "n_silent", "n_silence_runs", "longest_silence_run")
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[audioClipping]] — the sample FORMULA (the
    * oracle never sees bytes), run ids via the index-minus-rank
    * island trick. */
  private[graft] def audioClippingOracleSql: String =
    s"""WITH g AS (
       |  SELECT doc_id,
       |    least(greatest(coalesce(length(text), 0), 1), $WavMaxSamples)
       |      AS n
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, i,
       |    abs((doc_id * 31 + i * 17) % 65536 - 32768) AS a
       |  FROM g, unnest(generate_series(0, n - 1)) AS t(i)),
       |f AS (
       |  SELECT doc_id, i, a <= $SilenceAbs AS silent,
       |    a >= $ClipAbs AS clipped
       |  FROM s),
       |r AS (
       |  SELECT doc_id,
       |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rid
       |  FROM f WHERE silent),
       |rl AS (SELECT doc_id, rid, count(*) AS len FROM r GROUP BY 1, 2),
       |per AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN clipped THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_clipped,
       |    CAST(sum(CASE WHEN silent THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_silent
       |  FROM f GROUP BY 1),
       |runs AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_silence_runs,
       |    CAST(max(len) AS BIGINT) AS longest_silence_run
       |  FROM rl GROUP BY 1)
       |SELECT g.doc_id, CAST(g.n AS BIGINT) AS n_samples,
       |  per.n_clipped, per.n_clipped * 1000 // g.n AS clip_mille,
       |  per.n_silent,
       |  CAST(coalesce(runs.n_silence_runs, 0) AS BIGINT)
       |    AS n_silence_runs,
       |  CAST(coalesce(runs.longest_silence_run, 0) AS BIGINT)
       |    AS longest_silence_run
       |FROM g
       |JOIN per ON g.doc_id = per.doc_id
       |LEFT JOIN runs ON g.doc_id = runs.doc_id
       |ORDER BY g.doc_id""".stripMargin

  /** Fault-injection moduli for [[codecIntegrityScreen]] (shared with
    * the oracle): doc_id ≡ 0 (mod [[CorruptMagicMod]]) gets its RIFF
    * magic flipped (magic wins on overlap), else ≡ 0 (mod
    * [[CorruptTruncMod]]) is truncated to [[CorruptTruncLen]] bytes. */
  val CorruptMagicMod = 7
  val CorruptTruncMod = 11
  val CorruptTruncLen = 20

  /** CODEC-INTEGRITY SCREEN — the corrupt-sample gate of a multimodal
    * ingest: every container is VALIDATED (length, RIFF/WAVE magics,
    * declared-vs-actual RIFF size) before any decoder touches it, and
    * classified ok / truncated / bad_magic / size_mismatch so failures
    * route to a deadletter instead of crashing the decode stage.
    * Faults are injected deterministically by the doc_id moduli above
    * — the oracle recomputes the expected class census purely from the
    * ARITHMETIC rule, so a validator that misclassifies (wrong offset,
    * wrong endianness, length check after magic check) splits the
    * hash even though it "detected something". The screen is the
    * integrity sibling of [[audioClipping]]'s quality census.
    *
    * Scale: one partition-parallel byte walk per container (validation
    * reads 12 header bytes + one u32 — no full-payload scan), one
    * status-grain aggregate, a broadcast 1-row total. */
  def codecIntegrityScreen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val statuses = wavEncode(wavInputs(spark, dir)).mapPartitions { it =>
      it.map { p =>
        val orig = p.payload
        val b =
          if (p.doc_id % CorruptMagicMod == 0) {
            val c = orig.clone(); c(0) = 'X'.toByte; c
          } else if (p.doc_id % CorruptTruncMod == 0)
            java.util.Arrays.copyOf(orig, CorruptTruncLen)
          else orig
        val status =
          if (b.length < 44) "truncated"
          else if (tag4(b, 0) != "RIFF" || tag4(b, 8) != "WAVE") "bad_magic"
          else if (u32le(b, 4) != b.length - 8L) "size_mismatch"
          else "ok"
        (p.doc_id, status)
      }
    }.toDF("doc_id", "status")
    // Total from the census itself (tiny full-frame window), NOT a
    // second aggregate over `statuses` — that would re-run the whole
    // encode+validate byte walk, and checkpointing the corpus-sized
    // status frame is not a 100 TB option.
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    statuses.groupBy("status")
      .agg(count(lit(1)).as("n"))
      .withColumn("n_docs", sum(col("n")).over(wAll))
      .select(col("status"), col("n"), col("n_docs"),
        expr("(n * 1000) div n_docs").as("share_mille"))
      .orderBy("status")
  }

  /** DuckDB oracle for [[codecIntegrityScreen]] — the fault-injection
    * arithmetic alone; the Spark side must re-derive each class from
    * the BYTES. */
  private[graft] def codecIntegrityScreenOracleSql: String =
    s"""WITH s AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % $CorruptMagicMod = 0 THEN 'bad_magic'
       |         WHEN doc_id % $CorruptTruncMod = 0 THEN 'truncated'
       |         ELSE 'ok' END AS status
       |  FROM documents),
       |g AS (SELECT status, count(*) AS n FROM s GROUP BY 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM s)
       |SELECT g.status, g.n, t.n_docs,
       |  (g.n * 1000) // t.n_docs AS share_mille
       |FROM g CROSS JOIN t
       |ORDER BY g.status""".stripMargin

  /** The RESAMPLE stage of an audio pipeline: parse the genuine WAV
    * container (the [[wavChunks]] walk of [[wavDecode]]), then DECIMATE
    * the PCM stream by [[WavDecim]] (every 2nd sample; nearest-sample
    * decimation, the exact-integer member of the resampling family — a
    * windowed-sinc low-pass would put IEEE float accumulation between the
    * engines) and emit peak/energy over the kept samples. The output frame
    * carries in/out rates and counts, so downstream stages see a
    * genuine 4 kHz clip. Partition-parallel, constant memory. */
  def wavResample(payloads: Dataset[WavPayload]): Dataset[WavResampled] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      it.map { p =>
        val b = p.payload
        val c = wavChunks(b, "wav_resample", p.doc_id)
        val nIn = c.dataLen / 2
        var i = 0; var nOut = 0L; var peak = 0; var energy = 0L
        while (i < nIn) {
          val s = pcm16(b, c.dataOff + 2 * i)
          val a = math.abs(s)
          if (a > peak) peak = a
          energy += s.toLong * s.toLong
          nOut += 1
          i += WavDecim
        }
        WavResampled(p.doc_id, c.sampleRate, c.sampleRate / WavDecim,
          nIn, nOut, peak, energy)
      }
    }
  }

  /** End-to-end resample query: synthesize the WAV, parse + decimate,
    * emit all-integer stats over the kept samples. The oracle
    * recomputes the decimated stream from the sample FORMULA. */
  def audioResample(spark: SparkSession, dir: String): DataFrame =
    wavResample(wavEncode(wavInputs(spark, dir))).toDF().orderBy("doc_id")

  /** DuckDB oracle for [[audioResample]] — the same clamped sample
    * count, the same (docId·31 + i·17) PCM formula over the kept
    * indices, the same exact-integer peak/energy. */
  private[graft] def audioResampleOracleSql: String =
    s"""WITH g AS (
       |  SELECT doc_id,
       |    least(greatest(coalesce(length(text), 0), 1), $WavMaxSamples)
       |      AS n
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, n,
       |    ((doc_id * 31 + i * 17) % 65536) - 32768 AS v
       |  FROM g, unnest(generate_series(0, n - 1, $WavDecim)) AS q(i))
       |SELECT doc_id,
       |  $WavSampleRate AS in_rate,
       |  ${WavSampleRate / WavDecim} AS out_rate,
       |  CAST(n AS BIGINT) AS n_in,
       |  count(*) AS n_out,
       |  CAST(max(abs(v)) AS INT) AS peak_abs,
       |  CAST(sum(v * v) AS BIGINT) AS energy
       |FROM s
       |GROUP BY doc_id, n
       |ORDER BY doc_id""".stripMargin

  /** End-to-end codec query: synthesize one genuine WAV container per
    * document (sample count = clamped text length), parse it back with
    * the real chunk walker, and emit the all-integer features. The
    * oracle recomputes every feature from (doc_id, length(text)) alone —
    * it never sees the bytes — so a hash match proves the full encode →
    * container → parse → features loop is byte-correct. */
  def wavFeatures(spark: SparkSession, dir: String): DataFrame =
    wavDecode(wavEncode(wavInputs(spark, dir))).toDF().orderBy("doc_id")

  // --------------------------------------------------------------------
  // Real codec #2: BMP (24-bit uncompressed). Like WAVE, the format is a
  // public byte layout needing no codec library: BITMAPFILEHEADER +
  // BITMAPINFOHEADER + bottom-up pixel rows, each row padded to a 4-byte
  // stride. The two codec-shaped hazards WAV lacks — bottom-up row order
  // and per-row stride padding — are both made hash-observable: the
  // top-row checksum reads the LAST stored row (a decoder that ignores
  // bottom-up reads the wrong bytes), and every row offset goes through
  // the padded stride (a decoder that uses w*3 drifts off alignment from
  // row 1 onward).
  // --------------------------------------------------------------------

  /** Synthesized-image geometry: width from the text length, height from
    * the doc id — small, but every value exercises the stride-padding
    * arithmetic (widths 4..16 hit all four `w*3 mod 4` classes). */
  @inline def bmpWidth(nChars: Int): Int = (nChars % 13) + 4
  @inline def bmpHeight(docId: Long): Int = ((docId % 11) + 3).toInt

  /** Deterministic channel byte for image coordinates (x, y) and channel
    * c (0=B, 1=G, 2=R — BMP storage order), recomputable in SQL. */
  @inline def bmpByte(docId: Long, x: Int, y: Int, c: Int): Int =
    ((docId * 7L + y * 13L + x * 5L + c * 11L) % 256L).toInt

  /** Encode a genuine 24-bit BMP: `BM` file header, 40-byte
    * BITMAPINFOHEADER, then pixel rows stored BOTTOM-UP (positive height,
    * per the format), each padded with zero bytes to a 4-byte stride.
    * Partition-parallel over (doc_id, width, height) rows. */
  /** One genuine BMP container for pixel seed `seed` — the shared byte
    * builder behind [[bmpEncode]] and the multi-frame [[videoEncode]]. */
  private[operators] def bmpBytes(seed: Long, w: Int, h: Int): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val fileSize = 54 + stride * h
    val buf = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(fileSize)
    buf.putShort(0).putShort(0)             // reserved1/2
    buf.putInt(54)                          // pixel-data offset
    buf.putInt(40)                          // BITMAPINFOHEADER size
    buf.putInt(w)
    buf.putInt(h)                           // positive = bottom-up
    buf.putShort(1)                         // planes
    buf.putShort(24)                        // bits per pixel
    buf.putInt(0)                           // BI_RGB (uncompressed)
    buf.putInt(stride * h)                  // image size
    buf.putInt(2835).putInt(2835)           // 72 dpi in px/metre
    buf.putInt(0).putInt(0)                 // clrUsed/clrImportant
    var r = 0
    while (r < h) {
      val y = h - 1 - r                     // stored row r = image row y
      var x = 0
      while (x < w) {
        var c = 0
        while (c < 3) {
          buf.put(bmpByte(seed, x, y, c).toByte); c += 1
        }
        x += 1
      }
      var pad = w * 3
      while (pad < stride) { buf.put(0.toByte); pad += 1 }
      r += 1
    }
    buf.array()
  }

  def bmpEncode(rows: Dataset[(Long, Int, Int)]): Dataset[BmpPayload] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { case (docId, w, h) =>
        BmpPayload(docId, bmpBytes(docId, w, h))
      }
    }
  }

  /** BMP header fields of the container starting at byte `at`: declared
    * file size, DIB header size, dimensions, planes, bits per pixel and
    * compression, plus `pixels`, the absolute offset of the pixel array
    * (`at` + offBits), and the 4-byte-padded 24-bit row stride. */
  private final case class BmpHeader(fileSize: Int, pixels: Int,
      dibSize: Int, w: Int, h: Int, planes: Int, bpp: Int,
      compression: Int) {
    val stride: Int = ((w * 3 + 3) / 4) * 4
    /** Offset of image row `y` (top-down); rows are stored bottom-up. */
    def row(y: Int): Int = pixels + (h - 1 - y) * stride
  }

  /** The one BMP header reader; the caller has checked the `BM` magic
    * and that 54 header bytes follow `at`. */
  private def bmpHeader(b: Array[Byte], at: Int): BmpHeader =
    BmpHeader(i32le(b, at + 2), at + i32le(b, at + 10), i32le(b, at + 14),
      i32le(b, at + 18), i32le(b, at + 22), u16le(b, at + 26),
      u16le(b, at + 28), i32le(b, at + 30))

  /** A `BM` magic at `at` with a full 54-byte header after it. */
  private def isBmp(b: Array[Byte], at: Int): Boolean =
    at + 54 <= b.length && b(at) == 'B'.toByte && b(at + 1) == 'M'.toByte

  /** `documents` → (doc_id, w, h): the geometry of each synthesized BMP
    * ([[bmpWidth]] of the text length, [[bmpHeight]] of the doc id). */
  private def bmpInputs(spark: SparkSession,
      dir: String): Dataset[(Long, Int, Int)] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        (coalesce(length(col("text")), lit(0)) % 13 + 4).cast("int").as("w"),
        (col("doc_id") % 11 + 3).cast("int").as("h"))
      .as[(Long, Int, Int)]
  }

  /** REAL BMP parser: validates the `BM` magic and declared file size,
    * reads the DIB header (requires the 40-byte BITMAPINFOHEADER,
    * 24 bpp, uncompressed, one plane, positive height), then walks the
    * pixel array bottom-up through the padded stride. Emits max channel
    * byte and total channel sum over the true w×h×3 pixel bytes (pad
    * bytes excluded by construction of the walk), plus a position-
    * weighted checksum of the TOP image row — the row stored last, so
    * the value is wrong unless the decoder honors bottom-up order.
    * Malformed containers throw (corruption is a signal, not a skip). */
  def bmpDecode(payloads: Dataset[BmpPayload]): Dataset[BmpFeatures] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      it.map { p =>
        val b = p.payload
        require(isBmp(b, 0),
          s"bmp_decode: not a BMP container (doc ${p.doc_id})")
        val hd = bmpHeader(b, 0)
        require(hd.fileSize == b.length,
          s"bmp_decode: declared size ${hd.fileSize} != ${b.length} " +
            s"(doc ${p.doc_id})")
        require(hd.dibSize == 40,
          s"bmp_decode: expected BITMAPINFOHEADER (40), got ${hd.dibSize} " +
            s"(doc ${p.doc_id})")
        val w = hd.w; val h = hd.h
        require(w > 0 && h > 0,
          s"bmp_decode: expected positive bottom-up dims, got ${w}x$h " +
            s"(doc ${p.doc_id})")
        require(hd.planes == 1 && hd.bpp == 24 && hd.compression == 0,
          s"bmp_decode: expected 1 plane, 24 bpp, BI_RGB; got " +
            s"planes=${hd.planes} bpp=${hd.bpp} " +
            s"compression=${hd.compression} (doc ${p.doc_id})")
        require(hd.pixels + hd.stride * h <= b.length,
          s"bmp_decode: pixel array overruns container (doc ${p.doc_id})")
        var maxByte = 0; var pixelSum = 0L; var topRowChecksum = 0L
        var y = 0
        while (y < h) {                          // image coords, top-down
          val rowOff = hd.row(y)
          var j = 0
          while (j < w * 3) {
            val v = b(rowOff + j) & 0xff
            if (v > maxByte) maxByte = v
            pixelSum += v
            if (y == 0) topRowChecksum += v.toLong * (j + 1)
            j += 1
          }
          y += 1
        }
        BmpFeatures(p.doc_id, w, h, 24, hd.stride, w * h, b.length, maxByte,
          pixelSum, topRowChecksum)
      }
    }
  }

  /** Downsample grid geometry (shared with the oracle): 4×3 blocks —
    * within the minimum synthesized dims (w ≥ 4, h ≥ 3), so every
    * block holds at least one pixel at every image size. */
  val ResizeGridW = 4
  val ResizeGridH = 3

  /** The RESIZE stage of an image pipeline, on top of the real BMP
    * parser: block-mean downsample each decoded image to a
    * [[ResizeGridW]]×[[ResizeGridH]] grid (pixel (x,y) → block
    * (x·gw div w, y·gh div h) — the exact-integer form of nearest-area
    * resampling), then derive the average-hash (aHash) bit per block by
    * comparing block mean against global mean via CROSS-MULTIPLICATION
    * (blockSum·N > totalSum·blockN), so no division ever rounds. Gray
    * is the plain channel sum (B+G+R — monotone in luminance for equal
    * weights; no float weights enter). Emits the downsampled-grid
    * checksum (floor-div block means, position-weighted) and the packed
    * 12-bit aHash — the perceptual fingerprint an image-dedup pass
    * bands on, all-integer end to end.
    *
    * Scale shape: partition-parallel mapPartitions over the payload
    * column, one pass per image, constant memory (the grid
    * accumulators); the walk honors bottom-up storage and the padded
    * stride exactly like [[bmpDecode]]. */
  def bmpResize(payloads: Dataset[BmpPayload]): Dataset[BmpResized] = {
    import payloads.sparkSession.implicits._
    val gw = ResizeGridW; val gh = ResizeGridH
    payloads.mapPartitions { it =>
      it.map { p =>
        val b = p.payload
        require(isBmp(b, 0),
          s"bmp_resize: not a BMP container (doc ${p.doc_id})")
        val hd = bmpHeader(b, 0)
        require(hd.dibSize == 40 && hd.bpp == 24 && hd.compression == 0,
          s"bmp_resize: unsupported DIB/bpp/compression (doc ${p.doc_id})")
        val w = hd.w; val h = hd.h
        require(w >= gw && h >= gh,
          s"bmp_resize: image ${w}x$h smaller than the $gw×$gh grid " +
            s"(doc ${p.doc_id})")
        require(hd.pixels + hd.stride * h <= b.length,
          s"bmp_resize: pixel array overruns container (doc ${p.doc_id})")
        val blockSum = Array.ofDim[Long](gw * gh)
        val blockN = Array.ofDim[Long](gw * gh)
        var y = 0
        while (y < h) {
          val rowOff = hd.row(y)
          val by = y * gh / h
          var x = 0
          while (x < w) {
            val o = rowOff + x * 3
            val gray = (b(o) & 0xff) + (b(o + 1) & 0xff) + (b(o + 2) & 0xff)
            val bi = by * gw + x * gw / w
            blockSum(bi) += gray; blockN(bi) += 1
            x += 1
          }
          y += 1
        }
        var totalSum = 0L; var i = 0
        while (i < gw * gh) { totalSum += blockSum(i); i += 1 }
        val totalN = w.toLong * h
        var checksum = 0L; var ahash = 0; i = 0
        while (i < gw * gh) {
          checksum += (blockSum(i) / blockN(i)) * (i + 1)
          if (blockSum(i) * totalN > totalSum * blockN(i)) ahash |= 1 << i
          i += 1
        }
        BmpResized(p.doc_id, gw, gh, w * h, checksum, ahash)
      }
    }
  }

  /** Frame-sampling stride: every [[FrameStride]]-th frame is decoded
    * (shared with the oracle). */
  val FrameStride = 2

  /** Per-frame pixel-seed offset — frames of one video differ
    * deterministically (shared with the oracle). */
  val FrameSeedStep = 7919L

  /** Synthesize a "video": [[bmpBytes]] frames back-to-back in one
    * binary payload — the opaque multi-frame container shape (an
    * MJPEG/AVI stand-in built from the codec this repo actually has).
    * Frame f's pixel seed is `doc_id + f·[[FrameSeedStep]]`. */
  def videoEncode(rows: Dataset[(Long, Int, Int, Int)]): Dataset[VideoPayload] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { case (docId, w, h, nFrames) =>
        val frames = (0 until nFrames)
          .map(f => bmpBytes(docId + f * FrameSeedStep, w, h))
        val out = new Array[Byte](frames.map(_.length).sum)
        var off = 0
        frames.foreach { fb =>
          System.arraycopy(fb, 0, out, off, fb.length); off += fb.length
        }
        VideoPayload(docId, out)
      }
    }
  }

  /** The FRAME-SAMPLE stage of a video pipeline: walk the multi-frame
    * container by each frame's own declared size (offset 2 of the BMP
    * header — a walker that assumes a fixed frame length desyncs the
    * moment stride padding changes the frame size), decode every
    * [[FrameStride]]-th frame with the REAL parser, and aggregate
    * pixel stats over the sampled frames only. Malformed frames or a
    * trailing partial frame throw — container corruption is a signal.
    * Partition-parallel, constant memory per video. */
  def videoFrameSample(payloads: Dataset[VideoPayload]): Dataset[VideoFrameSample] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      it.map { p =>
        val b = p.payload
        var off = 0; var f = 0; var sampled = 0
        var pixelSum = 0L; var maxByte = 0
        var fw = 0; var fh = 0
        while (off < b.length) {
          require(isBmp(b, off),
            s"video_sample: frame $f is not a BMP (doc ${p.doc_id})")
          val hd = bmpHeader(b, off)
          val frameLen = hd.fileSize
          require(frameLen > 54 && off + frameLen <= b.length,
            s"video_sample: frame $f overruns container (doc ${p.doc_id})")
          if (f % FrameStride == 0) {
            val w = hd.w; val h = hd.h
            require(hd.bpp == 24 && hd.compression == 0,
              s"video_sample: frame $f not 24bpp BI_RGB (doc ${p.doc_id})")
            fw = w; fh = h
            var y = 0
            while (y < h) {
              val rowOff = hd.row(y)
              var j = 0
              while (j < w * 3) {
                val v = b(rowOff + j) & 0xff
                pixelSum += v
                if (v > maxByte) maxByte = v
                j += 1
              }
              y += 1
            }
            sampled += 1
          }
          off += frameLen; f += 1
        }
        VideoFrameSample(p.doc_id, f, fw, fh, sampled, pixelSum, maxByte)
      }
    }
  }

  /** End-to-end frame-sample query: synthesize a multi-frame video per
    * document, walk + sample + decode with the real parser, emit
    * all-integer stats over the sampled frames. The oracle recomputes
    * the sampled frames' pixel sums from the FORMULA (never the
    * bytes), so the hash match proves the container walk, the stride-2
    * sampling, and the per-frame parse are all byte-correct. */
  def videoFrameSampleQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val in = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (coalesce(length(col("text")), lit(0)) % 13 + 4).cast("int").as("w"),
        (col("doc_id") % 11 + 3).cast("int").as("h"),
        (col("doc_id") % 3 + 2).cast("int").as("n_frames"))
      .as[(Long, Int, Int, Int)]
    videoFrameSample(videoEncode(in)).toDF().orderBy("doc_id")
  }

  /** DuckDB oracle for [[videoFrameSampleQuery]] — frame geometry and
    * sampled pixel sums from first principles. */
  private[graft] def videoFrameSampleOracleSql: String =
    s"""WITH g AS (
       |  SELECT doc_id,
       |    (coalesce(length(text), 0) % 13) + 4 AS w,
       |    (doc_id % 11) + 3 AS h,
       |    (doc_id % 3) + 2 AS n_frames
       |  FROM documents),
       |fr AS (
       |  SELECT doc_id, w, h, n_frames, f,
       |    doc_id + f * $FrameSeedStep AS seed
       |  FROM g, unnest(generate_series(0, n_frames - 1)) AS s(f)
       |  WHERE f % $FrameStride = 0),
       |px AS (
       |  SELECT doc_id, n_frames, w, h, f,
       |    list_sum(list_transform(generate_series(0, w * h * 3 - 1), i ->
       |      (seed * 7 + (i // (w * 3)) * 13 + ((i % (w * 3)) // 3) * 5
       |       + (i % 3) * 11) % 256)) AS frame_sum,
       |    list_max(list_transform(generate_series(0, w * h * 3 - 1), i ->
       |      (seed * 7 + (i // (w * 3)) * 13 + ((i % (w * 3)) // 3) * 5
       |       + (i % 3) * 11) % 256)) AS frame_max
       |  FROM fr)
       |SELECT doc_id,
       |  CAST(n_frames AS INT) AS n_frames,
       |  CAST(w AS INT) AS frame_w,
       |  CAST(h AS INT) AS frame_h,
       |  CAST(count(*) AS INT) AS n_sampled,
       |  CAST(sum(frame_sum) AS BIGINT) AS sampled_pixel_sum,
       |  CAST(max(frame_max) AS INT) AS sampled_max_byte
       |FROM px
       |GROUP BY doc_id, n_frames, w, h
       |ORDER BY doc_id""".stripMargin

  /** End-to-end resize query: synthesize BMPs ([[bmpEncode]]), run the
    * real parse+downsample, emit all-integer grid features. The oracle
    * recomputes blocks from the pixel FORMULA (never the bytes), so the
    * hash match proves the decode→resize loop honors geometry, row
    * order, and stride. */
  def imageResize(spark: SparkSession, dir: String): DataFrame =
    bmpResize(bmpEncode(bmpInputs(spark, dir))).toDF().orderBy("doc_id")

  /** DuckDB oracle for [[imageResize]] — per-pixel gray from the
    * [[bmpByte]] formula, the same floor-scaled block mapping, the same
    * cross-multiplied aHash threshold. */
  private[graft] def imageResizeOracleSql: String =
    s"""WITH g AS (
       |  SELECT doc_id,
       |    (coalesce(length(text), 0) % 13) + 4 AS w,
       |    (doc_id % 11) + 3 AS h
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, w, h,
       |    i % w AS x, i // w AS y,
       |    (doc_id * 7 + (i // w) * 13 + (i % w) * 5) % 256
       |      + (doc_id * 7 + (i // w) * 13 + (i % w) * 5 + 11) % 256
       |      + (doc_id * 7 + (i // w) * 13 + (i % w) * 5 + 22) % 256
       |      AS gray
       |  FROM g, unnest(generate_series(0, w * h - 1)) AS r(i)),
       |blk AS (
       |  SELECT doc_id, w, h,
       |    (y * $ResizeGridH) // h * $ResizeGridW + (x * $ResizeGridW) // w
       |      AS bi,
       |    sum(gray) AS bs, count(*) AS bn
       |  FROM px GROUP BY 1, 2, 3, 4),
       |tot AS (
       |  SELECT doc_id, sum(bs) AS ts, w * h AS tn
       |  FROM blk GROUP BY doc_id, w, h)
       |SELECT blk.doc_id,
       |  $ResizeGridW AS grid_w, $ResizeGridH AS grid_h,
       |  CAST(tot.tn AS INT) AS n_pixels,
       |  CAST(sum((bs // bn) * (bi + 1)) AS BIGINT) AS resize_checksum,
       |  CAST(sum(CASE WHEN bs * tot.tn > tot.ts * bn
       |    THEN 1 << CAST(bi AS INT) ELSE 0 END) AS INT) AS ahash
       |FROM blk JOIN tot ON blk.doc_id = tot.doc_id
       |GROUP BY blk.doc_id, tot.tn
       |ORDER BY blk.doc_id""".stripMargin

  /** End-to-end codec query #2: synthesize one genuine BMP per document,
    * parse it back with the real header/stride/bottom-up walker, and emit
    * the all-integer features. The oracle recomputes every feature from
    * (doc_id, length(text)) alone — it never sees the bytes — so a hash
    * match proves the full encode → container → parse → features loop is
    * byte-correct, including row order and stride padding. */
  def bmpFeatures(spark: SparkSession, dir: String): DataFrame =
    bmpDecode(bmpEncode(bmpInputs(spark, dir))).toDF().orderBy("doc_id")

  /** DuckDB oracle for [[bmpFeatures]] — features from first principles
    * (the pixel formula in SQL), independent of the container bytes. */
  private[graft] def bmpFeaturesOracleSql: String =
    s"""WITH g AS (
       |  SELECT doc_id,
       |    (coalesce(length(text), 0) % 13) + 4 AS w,
       |    (doc_id % 11) + 3 AS h
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(w AS INT) AS width,
       |  CAST(h AS INT) AS height,
       |  24 AS bpp,
       |  CAST(((w * 3 + 3) // 4) * 4 AS INT) AS row_stride,
       |  CAST(w * h AS INT) AS n_pixels,
       |  CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS INT) AS container_bytes,
       |  CAST(list_max(list_transform(range(w * h * 3), i ->
       |    (doc_id * 7 + (i // (w * 3)) * 13 + ((i % (w * 3)) // 3) * 5
       |     + (i % 3) * 11) % 256)) AS INT) AS max_byte,
       |  CAST(list_sum(list_transform(range(w * h * 3), i ->
       |    (doc_id * 7 + (i // (w * 3)) * 13 + ((i % (w * 3)) // 3) * 5
       |     + (i % 3) * 11) % 256)) AS BIGINT) AS pixel_sum,
       |  CAST(list_sum(list_transform(range(w * 3), j ->
       |    ((doc_id * 7 + (j // 3) * 5 + (j % 3) * 11) % 256) * (j + 1)))
       |    AS BIGINT) AS top_row_checksum
       |FROM g
       |ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for [[wavFeatures]] — features from first principles
    * (the sample formula in SQL), independent of the container bytes. */
  private[graft] def wavFeaturesOracleSql: String =
    s"""SELECT doc_id,
       |  $WavSampleRate AS sample_rate,
       |  1 AS n_channels,
       |  16 AS bits_per_sample,
       |  CAST(n AS BIGINT) AS n_samples,
       |  CAST(44 + 2 * n AS INT) AS container_bytes,
       |  CAST(list_max(list_transform(range(n),
       |    i -> abs((doc_id * 31 + i * 17) % 65536 - 32768))) AS INT)
       |    AS peak_abs,
       |  CAST(list_sum(list_transform(range(n),
       |    i -> ((doc_id * 31 + i * 17) % 65536 - 32768)
       |       * ((doc_id * 31 + i * 17) % 65536 - 32768))) AS BIGINT)
       |    AS energy
       |FROM (SELECT doc_id,
       |        least(greatest(coalesce(length(text), 0), 1), $WavMaxSamples) AS n
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Real codec #3: PNG (8-bit truecolor, zlib-compressed). Unlike WAV and
  // BMP this is a COMPRESSED container: the pixel array rides inside IDAT
  // as a zlib stream of per-scanline-filtered bytes, and every chunk
  // carries a CRC-32 over its type+data. Three codec-shaped hazards are
  // made hash-observable: (1) big-endian chunk lengths/dimensions (WAV and
  // BMP are both LE — a decoder reusing their readers gets garbage dims);
  // (2) the per-row FILTER byte — rows are encoded with None/Sub/Up in
  // rotation, and because Up chains on the prior reconstructed row, a
  // defilter bug corrupts everything below it, which the bottom-row
  // checksum then catches; (3) CRC-32 verification on every chunk.
  // Compression is java.util.zip (Deflater/Inflater — the JDK's real
  // zlib), so the bytes are a genuine PNG any external tool could open.
  // --------------------------------------------------------------------

  /** Synthesized-image geometry for the PNG pipeline — distinct moduli
    * from BMP's so the two codec queries never alias. */
  @inline def pngWidth(nChars: Int): Int = (nChars % 9) + 4
  @inline def pngHeight(docId: Long): Int = ((docId % 7) + 3).toInt

  /** Deterministic channel byte for image coordinates (x, y) and channel
    * c (0=R, 1=G, 2=B — PNG storage order), recomputable in SQL. */
  @inline def pngByte(docId: Long, x: Int, y: Int, c: Int): Int =
    ((docId * 11L + y * 7L + x * 3L + c * 5L) % 256L).toInt

  private val PngSignature =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Encode a genuine PNG: 8-byte signature, IHDR (big-endian dims, bit
    * depth 8, color type 2 = truecolor), one IDAT holding the
    * zlib-deflated filtered scanlines (row y uses filter y % 3: 0 None,
    * 1 Sub, 2 Up — so defiltering is genuinely exercised, not a no-op),
    * and IEND. Every chunk gets its real CRC-32. Partition-parallel over
    * (doc_id, width, height) rows. */
  def pngEncode(rows: Dataset[(Long, Int, Int)]): Dataset[PngPayload] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { case (docId, w, h) =>
        val rowBytes = w * 3
        // Raw top-down scanlines, then per-row filtering per the spec:
        // Sub subtracts the pixel 3 bytes left; Up subtracts the prior
        // row's RECONSTRUCTED byte (= raw byte, since filtering is an
        // encoder-side transform of raw values).
        val raw = Array.ofDim[Int](h, rowBytes)
        for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
          raw(y)(x * 3 + c) = pngByte(docId, x, y, c)
        val filtered = new Array[Byte](h * (1 + rowBytes))
        var o = 0
        for (y <- 0 until h) {
          val f = y % 3
          filtered(o) = f.toByte; o += 1
          var j = 0
          while (j < rowBytes) {
            val v = f match {
              case 0 => raw(y)(j)
              case 1 => raw(y)(j) - (if (j >= 3) raw(y)(j - 3) else 0)
              case 2 => raw(y)(j) - (if (y > 0) raw(y - 1)(j) else 0)
            }
            filtered(o) = (v & 0xff).toByte; o += 1; j += 1
          }
        }
        val deflater = new java.util.zip.Deflater()
        deflater.setInput(filtered); deflater.finish()
        val zbuf = new Array[Byte](filtered.length + 64)
        var zlen = 0
        while (!deflater.finished())
          zlen += deflater.deflate(zbuf, zlen, zbuf.length - zlen)
        deflater.end()
        def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
          val buf = java.nio.ByteBuffer.allocate(12 + data.length)
            .order(java.nio.ByteOrder.BIG_ENDIAN)
          buf.putInt(data.length)
          val typeAndData = typ.getBytes("US-ASCII") ++ data
          buf.put(typeAndData)
          val crc = new java.util.zip.CRC32()
          crc.update(typeAndData)
          buf.putInt(crc.getValue.toInt)
          buf.array()
        }
        val ihdr = java.nio.ByteBuffer.allocate(13)
          .order(java.nio.ByteOrder.BIG_ENDIAN)
        ihdr.putInt(w).putInt(h)
        ihdr.put(8.toByte)   // bit depth
        ihdr.put(2.toByte)   // color type: truecolor RGB
        ihdr.put(0.toByte).put(0.toByte).put(0.toByte) // deflate/adaptive/no-interlace
        val payload = PngSignature ++
          chunk("IHDR", ihdr.array()) ++
          chunk("IDAT", java.util.Arrays.copyOf(zbuf, zlen)) ++
          chunk("IEND", Array.emptyByteArray)
        PngPayload(docId, payload)
      }
    }
  }

  /** REAL PNG parser: validates the 8-byte signature, walks the chunk
    * stream reading big-endian lengths and VERIFYING every CRC-32,
    * requires IHDR first (8-bit truecolor, deflate, adaptive filtering,
    * no interlace), concatenates IDAT data, inflates it with the JDK's
    * real zlib, then defilters each scanline honoring its filter byte
    * (all five spec filter types, though the encoder emits 0–2; Up and
    * Sub reconstruct against prior RECONSTRUCTED bytes per the spec).
    * Emits IHDR fields, pixel stats over the reconstructed w×h×3 bytes,
    * and a position-weighted checksum of the BOTTOM row — the row a
    * broken Up-chain corrupts most. Malformed containers throw. */
  def pngDecode(payloads: Dataset[PngPayload]): Dataset[PngFeatures] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      it.map { p =>
        val b = p.payload
        require(b.length >= 8 && java.util.Arrays.equals(
          java.util.Arrays.copyOf(b, 8), PngSignature),
          s"png_decode: bad signature (doc ${p.doc_id})")
        def i32(o: Int): Int =
          ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
            ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
        var off = 8
        var width = 0; var height = 0; var bitDepth = 0; var colorType = 0
        var nChunks = 0; var sawIhdr = false; var sawIend = false
        val idat = new java.io.ByteArrayOutputStream()
        while (off < b.length && !sawIend) {
          val len = i32(off)
          val typ = new String(b, off + 4, 4, "US-ASCII")
          require(off + 12 + len <= b.length,
            s"png_decode: chunk $typ overruns container (doc ${p.doc_id})")
          val crc = new java.util.zip.CRC32()
          crc.update(b, off + 4, 4 + len)
          require(crc.getValue.toInt == i32(off + 8 + len),
            s"png_decode: CRC mismatch in $typ (doc ${p.doc_id})")
          typ match {
            case "IHDR" =>
              require(!sawIhdr && nChunks == 0,
                s"png_decode: IHDR must be first (doc ${p.doc_id})")
              require(len == 13,
                s"png_decode: IHDR length $len != 13 (doc ${p.doc_id})")
              width = i32(off + 8); height = i32(off + 12)
              bitDepth = b(off + 16) & 0xff; colorType = b(off + 17) & 0xff
              require(bitDepth == 8 && colorType == 2,
                s"png_decode: expected 8-bit truecolor, got depth=$bitDepth" +
                  s" color=$colorType (doc ${p.doc_id})")
              require((b(off + 18) & 0xff) == 0 && (b(off + 19) & 0xff) == 0
                && (b(off + 20) & 0xff) == 0,
                s"png_decode: unsupported compression/filter/interlace " +
                  s"(doc ${p.doc_id})")
              sawIhdr = true
            case "IDAT" => idat.write(b, off + 8, len)
            case "IEND" => sawIend = true
            case _      => () // ancillary chunk: CRC-checked, skipped
          }
          nChunks += 1
          off += 12 + len
        }
        require(sawIhdr && sawIend,
          s"png_decode: missing IHDR or IEND (doc ${p.doc_id})")
        val rowBytes = width * 3
        val expected = height * (1 + rowBytes)
        val inflater = new java.util.zip.Inflater()
        inflater.setInput(idat.toByteArray)
        val filtered = new Array[Byte](expected)
        var got = 0
        while (got < expected && !inflater.finished())
          got += inflater.inflate(filtered, got, expected - got)
        inflater.end()
        require(got == expected,
          s"png_decode: inflated $got bytes, expected $expected " +
            s"(doc ${p.doc_id})")
        // Defilter per the spec (prior = reconstructed bytes).
        val recon = new Array[Int](height * rowBytes)
        var y = 0
        while (y < height) {
          val f = filtered(y * (1 + rowBytes)) & 0xff
          var j = 0
          while (j < rowBytes) {
            val x = filtered(y * (1 + rowBytes) + 1 + j) & 0xff
            val a = if (j >= 3) recon(y * rowBytes + j - 3) else 0
            val u = if (y > 0) recon((y - 1) * rowBytes + j) else 0
            val v = f match {
              case 0 => x
              case 1 => x + a
              case 2 => x + u
              case 3 => x + (a + u) / 2
              case 4 => // Paeth predictor
                val pp = a + u - (if (y > 0 && j >= 3)
                  recon((y - 1) * rowBytes + j - 3) else 0)
                val c0 = if (y > 0 && j >= 3)
                  recon((y - 1) * rowBytes + j - 3) else 0
                val pa = math.abs(pp - a); val pb = math.abs(pp - u)
                val pc = math.abs(pp - c0)
                x + (if (pa <= pb && pa <= pc) a
                     else if (pb <= pc) u else c0)
              case other => throw new IllegalArgumentException(
                s"png_decode: bad filter byte $other (doc ${p.doc_id})")
            }
            recon(y * rowBytes + j) = v & 0xff
            j += 1
          }
          y += 1
        }
        var maxByte = 0; var pixelSum = 0L; var bottomRowChecksum = 0L
        var i = 0
        while (i < recon.length) {
          val v = recon(i)
          if (v > maxByte) maxByte = v
          pixelSum += v
          i += 1
        }
        var j = 0
        while (j < rowBytes) {
          bottomRowChecksum +=
            recon((height - 1) * rowBytes + j).toLong * (j + 1)
          j += 1
        }
        PngFeatures(p.doc_id, width, height, bitDepth, colorType, nChunks,
          width * height, expected, maxByte, pixelSum, bottomRowChecksum)
      }
    }
  }

  /** End-to-end codec query #3: synthesize one genuine zlib-compressed
    * PNG per document, parse it back with the real chunk/CRC/inflate/
    * defilter walker, and emit the all-integer features. The oracle
    * recomputes every feature from (doc_id, length(text)) alone — it
    * never sees the bytes — so a hash match proves the full encode →
    * compress → container → parse → decompress → defilter loop is
    * byte-correct. Compressed size is deliberately NOT emitted (zlib
    * output is implementation-defined; everything emitted is
    * first-principles recomputable). */
  def pngFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val in = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (coalesce(length(col("text")), lit(0)) % 9 + 4).cast("int").as("w"),
        (col("doc_id") % 7 + 3).cast("int").as("h"))
      .as[(Long, Int, Int)]
    pngDecode(pngEncode(in)).toDF().orderBy("doc_id")
  }

  /** DuckDB oracle for [[pngFeatures]] — features from first principles
    * (the pixel formula in SQL), independent of the container bytes. */
  private[graft] def pngFeaturesOracleSql: String =
    s"""WITH g AS (
       |  SELECT doc_id,
       |    (coalesce(length(text), 0) % 9) + 4 AS w,
       |    (doc_id % 7) + 3 AS h
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(w AS INT) AS width,
       |  CAST(h AS INT) AS height,
       |  8 AS bit_depth,
       |  2 AS color_type,
       |  3 AS n_chunks,
       |  CAST(w * h AS INT) AS n_pixels,
       |  CAST(h * (1 + w * 3) AS INT) AS raw_bytes,
       |  CAST(list_max(list_transform(range(w * h * 3), i ->
       |    (doc_id * 11 + (i // (w * 3)) * 7 + ((i % (w * 3)) // 3) * 3
       |     + (i % 3) * 5) % 256)) AS INT) AS max_byte,
       |  CAST(list_sum(list_transform(range(w * h * 3), i ->
       |    (doc_id * 11 + (i // (w * 3)) * 7 + ((i % (w * 3)) // 3) * 3
       |     + (i % 3) * 5) % 256)) AS BIGINT) AS pixel_sum,
       |  CAST(list_sum(list_transform(range(w * 3), j ->
       |    ((doc_id * 11 + (h - 1) * 7 + (j // 3) * 3 + (j % 3) * 5) % 256)
       |      * (j + 1))) AS BIGINT) AS bottom_row_checksum
       |FROM g
       |ORDER BY doc_id""".stripMargin

  /** Perceptual-hash dedup census over the decoded image corpus: group
    * images by their [[imageResize]] aHash (exact perceptual dedup
    * groups — first-occurrence survivor + copy count), then for each
    * OBSERVED hash report how many of its 12 Hamming-distance-1 variant
    * hashes are also present and how many images they hold. This is the
    * image-side twin of the text exact-dedup + MIH families: the
    * hash-grain output stays ≤ 2^12 rows no matter how many images went
    * in (the pair-grain version explodes quadratically on a coarse hash
    * — 25k pairs already at sf0.01 — which is exactly why production
    * perceptual dedup aggregates at the hash grain first).
    *
    * Scale: the heavy step is the per-image decode/hash (linear,
    * partition-parallel); everything after runs on the ≤4096-row hash
    * census, and the Hamming-1 neighbor lookup is a broadcast self-join
    * of that census against its 12-way variant explode. A 64-bit phash
    * would swap the explode for the banded MIH bucket join
    * ([[graft.operators.VectorOps]] `annMihTop1`). */
  def imagePhashCensus(spark: SparkSession, dir: String): DataFrame = {
    val groups = imageResize(spark, dir)
      .groupBy("ahash")
      .agg(count(lit(1)).as("n_images"), min(col("doc_id")).as("keep_id"))
    val nbits = ResizeGridW * ResizeGridH
    val variants = groups.select(col("ahash"),
      explode(array((0 until nbits).map(k =>
        col("ahash").bitwiseXOR(lit(1 << k))): _*)).as("variant"))
    val neigh = variants
      .join(broadcast(groups.select(col("ahash").as("variant"),
        col("n_images").as("vn"))), "variant")
      .groupBy("ahash")
      .agg(count(lit(1)).as("n_neighbor_hashes"),
        sum(col("vn")).as("neighbor_image_mass"))
    groups.join(neigh, Seq("ahash"), "left")
      .select(col("ahash"), col("n_images"), col("keep_id"),
        coalesce(col("n_neighbor_hashes"), lit(0L)).as("n_neighbor_hashes"),
        coalesce(col("neighbor_image_mass"), lit(0L))
          .as("neighbor_image_mass"))
      .orderBy("ahash")
  }

  /** DuckDB oracle for [[imagePhashCensus]] — aHash from the pixel
    * FORMULA (same CTEs as [[imageResizeOracleSql]]; the oracle never
    * sees bytes), then the same hash-grain census and 12-variant
    * Hamming-1 neighbor join. */
  /** Shared oracle CTE chain ending at the hash-grain census `grp`
    * (ahash, n_images, keep_id) — the aHash from the pixel formula,
    * reused by [[imagePhashCensusOracleSql]] and
    * [[imageDupClustersOracleSql]]. */
  private def imageGroupsOracleCte: String =
    s"""g AS (
       |  SELECT doc_id,
       |    (coalesce(length(text), 0) % 13) + 4 AS w,
       |    (doc_id % 11) + 3 AS h
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, w, h,
       |    i % w AS x, i // w AS y,
       |    (doc_id * 7 + (i // w) * 13 + (i % w) * 5) % 256
       |      + (doc_id * 7 + (i // w) * 13 + (i % w) * 5 + 11) % 256
       |      + (doc_id * 7 + (i // w) * 13 + (i % w) * 5 + 22) % 256
       |      AS gray
       |  FROM g, unnest(generate_series(0, w * h - 1)) AS r(i)),
       |blk AS (
       |  SELECT doc_id, w, h,
       |    (y * $ResizeGridH) // h * $ResizeGridW + (x * $ResizeGridW) // w
       |      AS bi,
       |    sum(gray) AS bs, count(*) AS bn
       |  FROM px GROUP BY 1, 2, 3, 4),
       |tot AS (
       |  SELECT doc_id, sum(bs) AS ts, w * h AS tn
       |  FROM blk GROUP BY doc_id, w, h),
       |ah AS (
       |  SELECT blk.doc_id,
       |    CAST(sum(CASE WHEN bs * tot.tn > tot.ts * bn
       |      THEN 1 << CAST(bi AS INT) ELSE 0 END) AS INT) AS ahash
       |  FROM blk JOIN tot ON blk.doc_id = tot.doc_id
       |  GROUP BY blk.doc_id),
       |grp AS (
       |  SELECT ahash, count(*) AS n_images, min(doc_id) AS keep_id
       |  FROM ah GROUP BY ahash)""".stripMargin

  private[graft] def imagePhashCensusOracleSql: String =
    s"""WITH $imageGroupsOracleCte,
       |v AS (
       |  SELECT grp.ahash,
       |    xor(grp.ahash, 1 << CAST(k AS INT)) AS variant
       |  FROM grp,
       |    unnest(generate_series(0, ${ResizeGridW * ResizeGridH - 1}))
       |      AS t(k)),
       |n AS (
       |  SELECT v.ahash, count(*) AS n_neighbor_hashes,
       |    CAST(sum(g2.n_images) AS BIGINT) AS neighbor_image_mass
       |  FROM v JOIN grp g2 ON g2.ahash = v.variant
       |  GROUP BY v.ahash)
       |SELECT grp.ahash, grp.n_images, grp.keep_id,
       |  CAST(coalesce(n.n_neighbor_hashes, 0) AS BIGINT)
       |    AS n_neighbor_hashes,
       |  CAST(coalesce(n.neighbor_image_mass, 0) AS BIGINT)
       |    AS neighbor_image_mass
       |FROM grp LEFT JOIN n ON grp.ahash = n.ahash
       |ORDER BY grp.ahash""".stripMargin

  /** Hamming-1 degree above which a hash is a HUB — excluded from the
    * [[imageDupClusters]] closure as a density guard (shared with the
    * oracle). Max possible degree is the code width (12 here); real
    * sparse 64-bit spaces rarely exceed 1. */
  val DupDegreeCap = 3

  /** IMAGE NEAR-DUP CLUSTERS — the multimodal member of the dedup
    * family's cluster step: connected components ([[Components.label]])
    * over the hash-grain neighbor graph (present aHashes at Hamming
    * distance 1), then per cluster the image mass and the kept
    * representative. The decisive scale property is the GRAIN: the
    * graph's node set is bounded by the CODE SPACE (2^{grid bits} =
    * 4096 here, distinct-present hashes for real 64-bit pHashes), NOT
    * the corpus — a billion images collapse to the same ≤4096 nodes
    * before the closure runs, and per-image mass joins the labels
    * afterwards. The oracle is DuckDB's exact WITH RECURSIVE
    * reachability closure, so a wrong label cannot hash-match.
    *
    * DENSITY GUARD: a hash whose Hamming-1 degree exceeds
    * [[DupDegreeCap]] is a HUB — the signature of a DENSE code-space
    * region, where tight-radius transitive closure chains unrelated
    * images (this corpus's 12-bit space has degrees 1-6 over 69 present
    * hashes at sf0.01, and an unguarded closure chains ALL of them into
    * one cluster). Hub-incident edges are excluded from the closure and
    * each hub emits as its own singleton cluster, FLAGGED `is_hub` —
    * the guard decision is an observable column, mirrored in the
    * oracle's recursive closure (same degree CTE, same predicate), so
    * the guard itself is cross-engine-exact. The conservation laws
    * (Σ n_images = corpus, Σ n_hashes = census) are spec-pinned, and a
    * sparse real 64-bit pHash space makes no hash a hub — the guard
    * only bites where density would have over-merged. */
  def imageDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val groups = imageResize(spark, dir)
      .groupBy("ahash")
      .agg(count(lit(1)).as("n_images"), min(col("doc_id")).as("keep_id"))
      // Three consumers (variant explode, edge presence join, final
      // label join) over a ≤ 2^12-row frame: checkpoint once.
      .localCheckpoint()
    val nbits = ResizeGridW * ResizeGridH
    val edges = groups.select(col("ahash"),
        explode(array((0 until nbits).map(k =>
          col("ahash").bitwiseXOR(lit(1 << k))): _*)).as("variant"))
      .filter(col("variant") > col("ahash"))
      .join(groups.select(col("ahash").as("variant")), "variant")
      .select(col("ahash").cast("long"), col("variant").cast("long"))
    val labels = Components.label(edges, Some(DupDegreeCap))
      .select(col("v").cast("int").as("ahash"),
        col("component_id").cast("int").as("l"), col("is_hub").as("hub"))
    groups
      .join(labels, Seq("ahash"), "left")
      .select(coalesce(col("l"), col("ahash")).as("cluster_id"),
        col("n_images"), col("keep_id"),
        coalesce(col("hub"), lit(false)).as("hub"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_hashes"), sum(col("n_images")).as("n_images"),
        min(col("keep_id")).as("keep_id"),
        // Hubs never enter the closure, so a hub cluster is exactly one
        // hash and the bool_or is a per-row fact at cluster grain.
        expr("bool_or(hub)").as("is_hub"))
      .orderBy("cluster_id")
  }

  /** DuckDB oracle for [[imageDupClusters]] — same hash formula and
    * edge set, exact recursive reachability closure for the
    * components. */
  private[graft] def imageDupClustersOracleSql: String =
    s"""WITH RECURSIVE $imageGroupsOracleCte,
       |vv AS (
       |  SELECT grp.ahash,
       |    xor(grp.ahash, 1 << CAST(k AS INT)) AS variant
       |  FROM grp,
       |    unnest(generate_series(0, ${ResizeGridW * ResizeGridH - 1}))
       |      AS t(k)),
       |e0 AS (
       |  SELECT vv.ahash AS a, vv.variant AS b
       |  FROM vv JOIN grp g2 ON g2.ahash = vv.variant
       |  WHERE vv.variant > vv.ahash),
       |efull AS (SELECT a AS u, b AS v FROM e0
       |      UNION ALL SELECT b, a FROM e0),
       |hub AS (
       |  SELECT u FROM efull GROUP BY u
       |  HAVING count(*) > $DupDegreeCap),
       |e AS (
       |  SELECT u, v FROM efull
       |  WHERE u NOT IN (SELECT u FROM hub)
       |    AND v NOT IN (SELECT u FROM hub)),
       |r AS (
       |  SELECT u AS x, u AS y FROM e
       |  UNION
       |  SELECT r.x, e.v AS y FROM r JOIN e ON r.y = e.u),
       |lbl AS (SELECT x AS ahash, min(y) AS l FROM r GROUP BY x),
       |cl AS (
       |  SELECT coalesce(lbl.l, grp.ahash) AS cluster_id,
       |    grp.n_images, grp.keep_id,
       |    grp.ahash IN (SELECT u FROM hub) AS hub
       |  FROM grp LEFT JOIN lbl ON grp.ahash = lbl.ahash)
       |SELECT cluster_id, count(*) AS n_hashes,
       |  CAST(sum(n_images) AS BIGINT) AS n_images,
       |  min(keep_id) AS keep_id,
       |  bool_or(hub) AS is_hub
       |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin
}

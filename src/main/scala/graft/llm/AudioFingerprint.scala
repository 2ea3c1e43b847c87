package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** B299 — AUDIO perceptual near-dup (VERDICT r18 "what's missing" #1: the
  * multimodal dedup family covered image payloads (B290 blockhash) and
  * video clips (B293 frame-set containment) but had no audio member —
  * a re-mastered or jingle-stamped re-upload of the same recording hashes
  * to different bytes, invisible to b42's sha2 and to text dedup).
  *
  * Fingerprint: 64 bits from a square-wave (Walsh) correlation — the
  * integer-exact cousin of a single-bin Goertzel filter. The PCM stream is
  * cut into 32-sample frames; each frame correlates against a fixed
  * square wave of half-period [[HalfPeriod]] = 5 samples
  * (`c_f = Σ_j s[32f+j]·sign(j)`, sign(j) = +1 iff (j div 5) even — the
  * 32-sample frame holds 17 `+` vs 15 `-` taps, so the frame's DC level
  * contributes 2·mean and the correlation tracks BOTH loudness and the
  * in-band component; a balanced wave would cancel DC and collapse the
  * fingerprint to the ripple term). Frames map onto a 64-slot grid
  * (`g = f·64 div F`, every slot non-empty for F ≥ 64) and
  * `bit_g = 1 iff Σ_{f∈g} c_f > 0` — the sign bit of the slot's band
  * correlation. All integer arithmetic: exactly replicable in the DuckDB
  * oracle, which predicts every sample analytically from the generator
  * formula while the Spark side must EARN the same bits from the actual
  * WAV bytes (the b174/B290 decode-honesty pattern).
  *
  * Payloads are REAL RIFF/WAVE files (44-byte canonical header + 16-bit
  * LE mono PCM at 8 kHz), built per audio-slot document and PARSED
  * byte-for-byte on the Spark side — magic tags, fmt chunk fields,
  * byte-rate/block-align consistency, data-size arithmetic; a parse bug
  * breaks the hash. Planted near-copies: every [[PlantMod]]-th audio
  * re-published at id + [[AudioIdOffset]] with the frames of 3 fingerprint
  * slots ([[OverlaySlots]]) overwritten by an anti-phase ±1000 pattern (a
  * "dubbed-over intro/outro" edit) — only those 3 slots' bits can change,
  * so the copy is within Hamming ≤ 3 of the original BY CONSTRUCTION and
  * the banded join must recover every plant (pigeonhole over 4 bands of
  * 16 bits, the B290 guarantee verbatim).
  *
  * Candidate generation and verification reuse
  * [[PerceptualHash.bandedNearDupPairs]] UNCHANGED — the banding machinery
  * is fingerprint-agnostic; only the bit derivation is per-modality.
  *
  * Scale posture: fingerprinting is one mapPartitions pass — payloads
  * never shuffle (the Multimodal rule), 64 bit-rows per audio leave the
  * scan; banding is map-combinable; candidates come from a band-key
  * equi-join (never all-pairs); verification touches candidates × 64 bit
  * rows. Reference task-shape: dfpc-coe/etl-wildweb task.ts:1-165 (no
  * media dedup there — this is the training-pipeline surface).
  */
object AudioFingerprint {

  /** Samples per analysis frame (one correlation value per frame). */
  val FrameLen = 32

  /** Square-wave half-period in samples. DELIBERATELY not a divisor that
    * balances the frame: 32 = 3·(2·5) + 2 leaves 17 `+` vs 15 `-` taps,
    * so the frame mean does not cancel out of the correlation. */
  val HalfPeriod = 5

  /** PCM sample rate declared in (and validated from) the WAV header. */
  val SampleRate = 8000

  /** Planted near-copy id offset (plan-build-guarded, the b282/b284
    * ADVICE class; distinct from B290's image offset for legibility). */
  val AudioIdOffset = 9500000L

  /** Every PlantMod-th audio (of the doc_id % 3 = 1 audio slots) gets a
    * planted near-copy. */
  val PlantMod = 5L

  /** The fingerprint slots whose frames the plant overwrites. Exactly 3
    * (= [[PerceptualHash.PerceptRadius]]) disjoint slots, so the planted
    * fingerprint differs in ≤ 3 bits. */
  val OverlaySlots: Set[Int] = Set(0, 31, 63)

  /** Frame count for audio id: F ∈ [64, 127] — at least one frame per
    * fingerprint slot. */
  def frameCount(id: Long): Int = (id % 64).toInt + 64

  /** The analytic sample formula (the oracle's CASE arm): frame-level
    * carrier + in-frame ripple, all integer. `f` = sample div 32,
    * `j` = sample mod 32. */
  def sampleValue(src: Long, f: Int, j: Int): Int =
    ((((src * 31 + f.toLong * 17) % 256) - 128)
      + (((src + f.toLong * 7 + j.toLong * 13) % 9) - 4)).toInt

  /** The plant's overwrite pattern: anti-phase ±1000 (s·sign = −1000 at
    * every tap, driving the slot correlation hard negative). */
  def plantValue(j: Int): Int = if ((j / HalfPeriod) % 2 == 0) -1000 else 1000

  private def ascii(s: String) = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Build the audio-slot WAV payload: canonical 44-byte RIFF/WAVE header
    * + little-endian 16-bit mono PCM from [[sampleValue]]. */
  def wavPayload(id: Long): Array[Byte] = {
    val frames = frameCount(id)
    val n = frames * FrameLen
    val dataSize = 2 * n
    val out = new Array[Byte](44 + dataSize)
    def put(off: Int, bs: Array[Byte]): Unit = System.arraycopy(bs, 0, out, off, bs.length)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
      out(off + 2) = ((v >> 16) & 0xFF).toByte; out(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    put(0, ascii("RIFF")); le32(4, 36 + dataSize); put(8, ascii("WAVE"))
    put(12, ascii("fmt ")); le32(16, 16)
    le16(20, 1) // PCM
    le16(22, 1) // mono
    le32(24, SampleRate)
    le32(28, SampleRate * 2) // byte rate
    le16(32, 2) // block align
    le16(34, 16) // bits per sample
    put(36, ascii("data")); le32(40, dataSize)
    var i = 0
    while (i < n) {
      le16(44 + 2 * i, sampleValue(id, i / FrameLen, i % FrameLen) & 0xFFFF)
      i += 1
    }
    out
  }

  /** STRICT WAV parse: validates RIFF/WAVE/fmt/data magics, PCM format
    * code, channel count, sample rate, byte-rate and block-align
    * consistency, bit depth, and both size fields; requires a whole
    * number of [[FrameLen]]-sample frames covering all 64 fingerprint
    * slots. Returns (sample count, data offset). The fingerprint side
    * must EARN its samples from the bytes — same discipline as
    * [[Multimodal.decodePpm]]. */
  def wavHeader(id: Long, payload: Array[Byte]): (Int, Int) = {
    require(payload.length >= 44, s"audio $id: shorter than a WAV header")
    def str4(off: Int) = new String(payload, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def le32(off: Int): Int =
      (payload(off) & 0xFF) | ((payload(off + 1) & 0xFF) << 8) |
        ((payload(off + 2) & 0xFF) << 16) | ((payload(off + 3) & 0xFF) << 24)
    def le16(off: Int): Int = (payload(off) & 0xFF) | ((payload(off + 1) & 0xFF) << 8)
    require(str4(0) == "RIFF" && str4(8) == "WAVE", s"audio $id: not a RIFF/WAVE payload")
    require(str4(12) == "fmt " && le32(16) == 16, s"audio $id: missing canonical fmt chunk")
    require(le16(20) == 1, s"audio $id: not PCM (format ${le16(20)})")
    require(le16(22) == 1, s"audio $id: not mono (${le16(22)} channels)")
    val sr = le32(24)
    require(sr == SampleRate, s"audio $id: sample rate $sr != $SampleRate")
    require(le16(34) == 16, s"audio $id: not 16-bit (${le16(34)})")
    require(le16(32) == 2 && le32(28) == sr * 2,
      s"audio $id: inconsistent block align / byte rate")
    require(str4(36) == "data", s"audio $id: missing data chunk")
    val dataSize = le32(40)
    require(dataSize == payload.length - 44 && dataSize % 2 == 0,
      s"audio $id: data size $dataSize vs ${payload.length - 44} payload bytes")
    require(le32(4) == 36 + dataSize, s"audio $id: RIFF size mismatch")
    val n = dataSize / 2
    require(n % FrameLen == 0 && n / FrameLen >= 64,
      s"audio $id: $n samples is not a whole >=64-frame grid")
    (n, 44)
  }

  /** 64 fingerprint bits from the ACTUAL PCM bytes: per-frame square-wave
    * correlation, slot-summed, sign-thresholded. */
  def waveBits(id: Long, payload: Array[Byte]): Array[Int] = {
    val (n, off) = wavHeader(id, payload)
    val frames = n / FrameLen
    val c = new Array[Long](frames)
    var i = 0
    while (i < n) {
      val j = i % FrameLen
      val lo = payload(off + 2 * i) & 0xFF
      val hi = payload(off + 2 * i + 1)
      val s = (hi << 8) | lo // sign-extends through hi
      c(i / FrameLen) += (if ((j / HalfPeriod) % 2 == 0) s else -s)
      i += 1
    }
    val g = new Array[Long](64)
    var f = 0
    while (f < frames) { g(f * 64 / frames) += c(f); f += 1 }
    Array.tabulate(64)(k => if (g(k) > 0) 1 else 0)
  }

  /** Apply the 3-slot overwrite to a COPY of the WAV payload — the
    * planted near-copy's bytes, which the Spark side then re-parses
    * honestly. */
  def overlayWav(id: Long, payload: Array[Byte]): Array[Byte] = {
    val (n, off) = wavHeader(id, payload)
    val frames = n / FrameLen
    val out = payload.clone()
    var i = 0
    while (i < n) {
      val f = i / FrameLen
      if (OverlaySlots.contains(f * 64 / frames)) {
        val v = plantValue(i % FrameLen) & 0xFFFF
        out(off + 2 * i) = (v & 0xFF).toByte
        out(off + 2 * i + 1) = ((v >> 8) & 0xFF).toByte
      }
      i += 1
    }
    out
  }

  /** The (media_id, block_idx, bit) stream: originals + planted
    * near-copies, fingerprinted from REAL WAV bytes in one mapPartitions
    * pass. */
  private[graft] def bitRows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).filter(col("doc_id") % 3 === 1)
      .select(col("doc_id").as("media_id"))
    requireIdsBelow(docs, "media_id", AudioIdOffset, "b299")
    docs.as[Long].mapPartitions { ids =>
      ids.flatMap { id =>
        val payload = wavPayload(id)
        val orig = waveBits(id, payload).iterator.zipWithIndex
          .map { case (bit, b) => (id, b, bit) }
        val planted =
          if (id % PlantMod == 0) {
            waveBits(id, overlayWav(id, payload)).iterator.zipWithIndex
              .map { case (bit, b) => (id + AudioIdOffset, b, bit) }
          } else Iterator.empty
        orig ++ planted
      }
    }.toDF("media_id", "block_idx", "bit")
  }

  /** The b299 oracle: predicts every PCM sample analytically from the
    * generator formula, folds the identical correlation/slot/sign
    * pipeline in SQL, then runs the B290 band/candidate/Hamming tail
    * VERBATIM. */
  private[graft] val audioNeardupOracleSql: String =
    s"""WITH ids AS (
       |  SELECT doc_id AS media_id, doc_id AS src,
       |         CAST((doc_id % 64) + 64 AS BIGINT) AS fr, 0 AS planted
       |  FROM documents WHERE doc_id % 3 = 1
       |  UNION ALL
       |  SELECT doc_id + $AudioIdOffset, doc_id,
       |         CAST((doc_id % 64) + 64 AS BIGINT), 1
       |  FROM documents WHERE doc_id % 3 = 1 AND doc_id % $PlantMod = 0),
       |smp AS (
       |  SELECT media_id, src, fr, planted,
       |         UNNEST(generate_series(0, fr * $FrameLen - 1)) AS i
       |  FROM ids),
       |sv AS (
       |  SELECT media_id, fr, i // $FrameLen AS f, i % $FrameLen AS j,
       |         CASE WHEN planted = 1
       |               AND ((i // $FrameLen) * 64) // fr IN (0, 31, 63)
       |              THEN CASE WHEN ((i % $FrameLen) // $HalfPeriod) % 2 = 0
       |                        THEN -1000 ELSE 1000 END
       |              ELSE ((src * 31 + (i // $FrameLen) * 17) % 256) - 128
       |                   + ((src + (i // $FrameLen) * 7
       |                       + (i % $FrameLen) * 13) % 9) - 4 END AS s
       |  FROM smp),
       |cf AS (
       |  SELECT media_id, fr, f,
       |         CAST(sum(s * CASE WHEN (j // $HalfPeriod) % 2 = 0
       |                           THEN 1 ELSE -1 END) AS BIGINT) AS c
       |  FROM sv GROUP BY media_id, fr, f),
       |grp AS (
       |  SELECT media_id, (f * 64) // fr AS block_idx,
       |         CAST(sum(c) AS BIGINT) AS g
       |  FROM cf GROUP BY media_id, (f * 64) // fr),
       |bits AS (
       |  SELECT media_id, block_idx,
       |         CASE WHEN g > 0 THEN 1 ELSE 0 END AS bit
       |  FROM grp),
       |bands AS (
       |  SELECT media_id, block_idx // 16 AS band_idx,
       |         CAST(sum(bit * (CAST(1 AS BIGINT)
       |                         << CAST(block_idx % 16 AS INTEGER)))
       |              AS BIGINT) AS band_val
       |  FROM bits GROUP BY media_id, block_idx // 16),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS da, b.media_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.media_id < b.media_id),
       |ham AS (
       |  SELECT da, db,
       |         CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
       |              AS BIGINT) AS hamming
       |  FROM cand
       |  JOIN bits x ON x.media_id = da
       |  JOIN bits y ON y.media_id = db AND y.block_idx = x.block_idx
       |  GROUP BY da, db)
       |SELECT da AS doc_a, db AS doc_b, hamming,
       |       CAST(CASE WHEN db - da = $AudioIdOffset THEN 1 ELSE 0 END
       |            AS BIGINT) AS is_planted
       |FROM ham WHERE hamming <= ${PerceptualHash.PerceptRadius}
       |ORDER BY doc_a, doc_b""".stripMargin

  /** B299 — the end-to-end audio near-dup join: WAV parse → square-wave
    * correlation fingerprint → band → candidate join → Hamming verify. */
  private val b299 = entry(
    "b299_audio_neardup", audioNeardupOracleSql,
    bench = true) { (s, d) =>
    val bits = QueryScope.materialize("bits")(bitRows(s, d)) // feeds bands + verify
    PerceptualHash.bandedNearDupPairs(bits, AudioIdOffset)
  }

  /** Frame-sampling stride for B307 (keep every 8th analysis frame — the
    * b79 convention on the audio axis). */
  val FrameStride = 8

  /** B307 — the audio DECODE → FEATURE chain (the b79/b174 pattern on the
    * third modality: b174 decodes images, b79 samples video frames, this
    * parses WAV PCM and emits per-sampled-frame features): one
    * mapPartitions pass parses the RIFF header byte-for-byte, then emits
    * every [[FrameStride]]-th frame's integer features — energy
    * (Σ|s|, the loudness envelope) and zero-crossing count (the classic
    * integer pitch/noisiness proxy, Rabiner-Schafer class) — the unit of
    * work a downstream per-frame feature extractor consumes. The oracle
    * re-derives every sample analytically and aggregates the identical
    * features in SQL.
    *
    * Zero crossings are counted as sign-bit changes between consecutive
    * samples WITHIN the frame ((prev < 0) ≠ (s < 0) — zero is positive),
    * which is exactly replicable relationally via lag over (media, frame).
    *
    * Scale posture: payloads never shuffle; output is frames/8 rows per
    * audio; the only exchange is the presentation sort. */
  private val b307 = entry(
    "b307_audio_frame_features",
    s"""WITH ids AS (
       |  SELECT doc_id AS media_id, doc_id AS src,
       |         CAST((doc_id % 64) + 64 AS BIGINT) AS fr
       |  FROM documents WHERE doc_id % 3 = 1),
       |smp AS (
       |  SELECT media_id, src, fr,
       |         UNNEST(generate_series(0, fr * $FrameLen - 1)) AS i
       |  FROM ids),
       |sv AS (
       |  SELECT media_id, i // $FrameLen AS f, i % $FrameLen AS j,
       |         ((src * 31 + (i // $FrameLen) * 17) % 256) - 128
       |         + ((src + (i // $FrameLen) * 7 + (i % $FrameLen) * 13) % 9)
       |         - 4 AS s
       |  FROM smp),
       |sl AS (
       |  SELECT media_id, f, j, s,
       |         lag(s) OVER (PARTITION BY media_id, f ORDER BY j) AS prev
       |  FROM sv),
       |feat AS (
       |  SELECT media_id, f AS frame_idx,
       |         CAST(count(*) AS BIGINT) AS n_samples,
       |         CAST(sum(abs(s)) AS BIGINT) AS energy,
       |         CAST(sum(CASE WHEN prev IS NOT NULL
       |                        AND (prev < 0) <> (s < 0)
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS zcross
       |  FROM sl GROUP BY media_id, f)
       |SELECT media_id, frame_idx, n_samples, energy, zcross
       |FROM feat WHERE frame_idx % $FrameStride = 0
       |ORDER BY media_id, frame_idx""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d).filter(col("doc_id") % 3 === 1)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        // per-partition decoder init would go here (the Multimodal rule)
        ids.flatMap { id =>
          val payload = wavPayload(id)
          val (n, off) = wavHeader(id, payload)
          val frames = n / FrameLen
          (0 until frames by FrameStride).iterator.map { f =>
            var energy = 0L
            var zcross = 0L
            var prevNeg = false
            var j = 0
            while (j < FrameLen) {
              val i = f * FrameLen + j
              val lo = payload(off + 2 * i) & 0xFF
              val hi = payload(off + 2 * i + 1)
              val sVal = (hi << 8) | lo
              energy += math.abs(sVal)
              val neg = sVal < 0
              if (j > 0 && neg != prevNeg) zcross += 1
              prevNeg = neg
              j += 1
            }
            (id, f.toLong, FrameLen.toLong, energy, zcross)
          }
        }
      }
      .toDF("media_id", "frame_idx", "n_samples", "energy", "zcross")
      .orderBy("media_id", "frame_idx")
  }

  val entries: Seq[Entry] = Seq(b299, b307)
}

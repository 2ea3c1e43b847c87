package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** B290 — PERCEPTUAL NEAR-DUP for multimodal payloads (VERDICT r17 item 3:
  * the dedup family covered text five ways and embeddings two ways, but
  * nothing deduped the IMAGE payloads themselves — re-encoded, re-scaled,
  * or logo-stamped copies of the same picture hash to different bytes, so
  * b42's sha2 and b43's shingle MinHash are both blind to them).
  *
  * Blockhash-style bit fingerprint (Yang/Weng blockhash, ICIP 2006 class;
  * same family as pHash): the decoded image is cut into an 8×8 grid of
  * blocks; bit_b = 1 iff block b's mean byte luma exceeds the fixed
  * mid-scale threshold (2·sum > 255·n — integer-exact, no float mean).
  * A FIXED threshold (vs blockhash's image median) keeps the bits LOCAL:
  * an edit that touches k blocks flips at most k bits, which is what the
  * planted-copy bound below relies on, and what makes small overlays
  * (logos, banners) perceptually invisible to the fingerprint.
  *
  * Candidate generation is the b42+/b43 banded pattern VERBATIM: the
  * 64-bit fingerprint splits into [[PerceptBands]] = 4 bands of 16 bits;
  * pairs sharing any exact band are candidates; candidates are verified
  * by full Hamming distance ≤ [[PerceptRadius]] = 3. Pigeonhole
  * completeness: ≤ 3 flipped bits dirty ≤ 3 bands, so every true pair
  * within the radius shares ≥ 1 of the 4 bands — the banded join misses
  * NOTHING inside the radius (PerceptualHashSpec pins this property on
  * random fingerprints, plus the planted recovery end-to-end).
  *
  * The corpus is the b174 REAL-decode path: P6 PPM payloads generated per
  * image-slot document, PARSED byte-for-byte on the Spark side (header
  * offset, unsigned bytes — a parse bug breaks the hash) while the oracle
  * predicts every block sum analytically from the id formula. Planted
  * near-copies: every [[PlantMod]]-th image re-published at id +
  * [[PerceptIdOffset]] with a 3-block overlay (top-left banner 0xFF,
  * center-ish logo 0x00, bottom-right stamp 0xFF) — Hamming ≤ 3 from the
  * original BY CONSTRUCTION (only overwritten blocks can change under the
  * fixed threshold), so every plant must come back from the banded join.
  *
  * Scale posture: fingerprinting is one mapPartitions pass — payloads
  * never shuffle (the Multimodal rule), 64 bit-rows per image leave the
  * scan; banding is one map-combinable (media, band) aggregate; the
  * candidate join is band-key equi (never all-pairs — the b43 posture);
  * verification touches candidates × 64 bit rows. Reference for the
  * task-shape: dfpc-coe/etl-wildweb task.ts:1-165 (no media dedup there —
  * this is the training-pipeline surface).
  */
object PerceptualHash {

  /** Bands over the 64-bit fingerprint (16 bits each). */
  val PerceptBands = 4

  /** Verified Hamming radius; must stay < [[PerceptBands]] for the
    * pigeonhole completeness guarantee. */
  val PerceptRadius = 3L

  /** Planted near-copy id offset (plan-build-guarded, the b282/b284
    * ADVICE class). */
  val PerceptIdOffset = 9000000L

  /** Every PlantMod-th image (of the doc_id % 3 = 0 image slots) gets a
    * planted near-copy. */
  val PlantMod = 5L

  /** The 3 overlaid blocks: (bx, by) -> byte value. Disjoint blocks, so
    * the planted fingerprint differs in ≤ 3 bits. */
  val OverlayBlocks: Map[(Int, Int), Int] =
    Map((0, 0) -> 255, (3, 3) -> 0, (7, 7) -> 255)

  /** Parse a P6 header: (width, height, pixel-data offset). Same
    * validation discipline as [[Multimodal.decodePpm]] — the fingerprint
    * side must EARN its dims from the bytes. */
  def ppmHeader(id: Long, payload: Array[Byte]): (Int, Int, Int) = {
    require(payload.length >= 2 && payload(0) == 'P' && payload(1) == '6',
      s"media $id: not a P6 PPM payload")
    var pos = 2
    def nextInt(): Int = {
      while (pos < payload.length && Character.isWhitespace(payload(pos))) pos += 1
      require(pos < payload.length, s"media $id: truncated PPM header")
      var v = 0
      while (pos < payload.length && !Character.isWhitespace(payload(pos))) {
        val c = payload(pos) - '0'
        require(c >= 0 && c <= 9, s"media $id: non-numeric PPM header")
        v = v * 10 + c
        pos += 1
      }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxval = nextInt()
    require(w >= 8 && h >= 8 && maxval > 0 && maxval <= 255,
      s"media $id: unsupported PPM dims/maxval $w x $h / $maxval " +
        "(blockhash needs an 8x8 grid)")
    pos += 1
    require(payload.length - pos == 3L * w * h,
      s"media $id: PPM payload ${payload.length - pos} bytes, expected ${3L * w * h}")
    (w, h, pos)
  }

  /** 64 blockhash bits from the ACTUAL pixel bytes: bit_b = 1 iff
    * 2·sum_b > 255·n_b (mean byte > 127.5). Block of pixel (x, y):
    * bx = x·8 div w, by = y·8 div h — every block non-empty for
    * w, h ≥ 8. */
  def blockBits(id: Long, payload: Array[Byte]): Array[Int] = {
    val (w, h, off) = ppmHeader(id, payload)
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var i = 0
    val n = payload.length - off
    while (i < n) {
      val p = i / 3
      val bx = (p % w) * 8 / w
      val by = (p / w) * 8 / h
      val b = by * 8 + bx
      sums(b) += payload(off + i) & 0xFF
      counts(b) += 1
      i += 1
    }
    Array.tabulate(64)(b => if (2 * sums(b) > 255 * counts(b)) 1 else 0)
  }

  /** Apply the 3-block overlay to a COPY of the payload — the planted
    * near-copy's bytes, which the Spark side then re-parses honestly. */
  def overlay(id: Long, payload: Array[Byte]): Array[Byte] = {
    val (w, h, off) = ppmHeader(id, payload)
    val out = payload.clone()
    var i = 0
    val n = payload.length - off
    while (i < n) {
      val p = i / 3
      val bx = (p % w) * 8 / w
      val by = (p / w) * 8 / h
      OverlayBlocks.get((bx, by)).foreach(v => out(off + i) = v.toByte)
      i += 1
    }
    out
  }

  /** The (media_id, block_idx, bit) stream: originals + planted
    * near-copies, fingerprinted from REAL bytes in one mapPartitions
    * pass. */
  private[graft] def bitRows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("media_id"))
    requireIdsBelow(docs, "media_id", PerceptIdOffset, "b290")
    docs.as[Long].mapPartitions { ids =>
      ids.flatMap { id =>
        val payload = Multimodal.ppmPayload(id)
        val orig = blockBits(id, payload).iterator.zipWithIndex
          .map { case (bit, b) => (id, b, bit) }
        val planted =
          if (id % PlantMod == 0) {
            blockBits(id, overlay(id, payload)).iterator.zipWithIndex
              .map { case (bit, b) => (id + PerceptIdOffset, b, bit) }
          } else Iterator.empty
        orig ++ planted
      }
    }.toDF("media_id", "block_idx", "bit")
  }

  /** The b290 oracle's CTE chain (ids → … → ham) WITHOUT the leading WITH
    * — the r16 composition convention, so B306's manifest chains it
    * verbatim under its own WITH RECURSIVE. */
  private[graft] val neardupCtesDuck: String =
    s"""ids AS (
       |  SELECT doc_id AS media_id, doc_id AS src,
       |         CAST((doc_id % 48) + 16 AS BIGINT) AS w,
       |         CAST((doc_id % 32) + 8 AS BIGINT) AS ht,
       |         0 AS planted
       |  FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + $PerceptIdOffset, doc_id,
       |         CAST((doc_id % 48) + 16 AS BIGINT),
       |         CAST((doc_id % 32) + 8 AS BIGINT),
       |         1
       |  FROM documents WHERE doc_id % 3 = 0 AND doc_id % $PlantMod = 0),
       |bytes AS (
       |  SELECT media_id, src, w, ht, planted,
       |         UNNEST(generate_series(0, 3 * w * ht - 1)) AS i
       |  FROM ids),
       |px0 AS (
       |  SELECT media_id, src, planted, i,
       |         (((i // 3) % w) * 8) // w AS bx,
       |         (((i // 3) // w) * 8) // ht AS by
       |  FROM bytes),
       |pxv AS (
       |  SELECT media_id, by * 8 + bx AS block_idx,
       |         CASE WHEN planted = 1 AND bx = 0 AND by = 0 THEN 255
       |              WHEN planted = 1 AND bx = 3 AND by = 3 THEN 0
       |              WHEN planted = 1 AND bx = 7 AND by = 7 THEN 255
       |              ELSE (src + i) % 256 END AS v
       |  FROM px0),
       |bs AS (
       |  SELECT media_id, block_idx,
       |         CAST(sum(v) AS BIGINT) AS s_sum,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM pxv GROUP BY media_id, block_idx),
       |bits AS (
       |  SELECT media_id, block_idx,
       |         CASE WHEN 2 * s_sum > 255 * n THEN 1 ELSE 0 END AS bit
       |  FROM bs),
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
       |  GROUP BY da, db)""".stripMargin

  /** The b290 oracle — shared VERBATIM by the streamed twin b295 (the
    * b283/b276 convention: the incremental index must converge to exactly
    * the batch join's pair set). */
  private[graft] val neardupOracleSql: String =
    s"""WITH $neardupCtesDuck
       |SELECT da AS doc_a, db AS doc_b, hamming,
       |       CAST(CASE WHEN db - da = $PerceptIdOffset THEN 1 ELSE 0 END
       |            AS BIGINT) AS is_planted
       |FROM ham WHERE hamming <= $PerceptRadius
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The banded near-dup join over a 64-bit fingerprint given as
    * (media_id, block_idx, bit) rows: band → candidate equi-join →
    * Hamming verify → (doc_a, doc_b, hamming, is_planted). Shared by
    * B290 (image blockhash) and B299 (audio envelope/correlation bits) —
    * the banding/verify machinery is fingerprint-agnostic, only the bit
    * derivation differs per modality. `bits` should be localCheckpointed
    * by the caller when it also feeds other consumers. */
  private[graft] def bandedNearDupPairs(bits: DataFrame, idOffset: Long,
      radius: Long = PerceptRadius): DataFrame = {
    val bands = bits
      .groupBy(col("media_id"), expr("block_idx div 16").as("band_idx"))
      .agg(sum(expr(
        "bit * shiftleft(CAST(1 AS BIGINT), CAST(block_idx % 16 AS INT))"))
        .as("band_val"))
    val cand = bands.select(col("media_id").as("da"), col("band_idx"),
        col("band_val"))
      .join(bands.select(col("media_id").as("db"), col("band_idx"),
        col("band_val")), Seq("band_idx", "band_val"))
      .filter(col("da") < col("db"))
      .select("da", "db").distinct()
    val ham = cand
      .join(bits.select(col("media_id").as("da"), col("block_idx"),
        col("bit").as("bit_a")), Seq("da"))
      .join(bits.select(col("media_id").as("db"), col("block_idx"),
        col("bit").as("bit_b")), Seq("db", "block_idx"))
      .groupBy("da", "db")
      .agg(sum(when(col("bit_a") =!= col("bit_b"), 1L).otherwise(0L))
        .as("hamming"))
    ham.filter(col("hamming") <= radius)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("hamming"),
        when(col("doc_b") - col("doc_a") === idOffset, 1L)
          .otherwise(0L).as("is_planted"))
      .orderBy("doc_a", "doc_b")
  }

  /** B290 — the end-to-end perceptual near-dup join: fingerprint → band →
    * candidate join → Hamming verify. Output: every pair within
    * [[PerceptRadius]], with its distance and the planted marker. */
  private val b290 = entry(
    "b290_perceptual_neardup", neardupOracleSql,
    bench = true) { (s, d) =>
    val bits = QueryScope.materialize("bits")(bitRows(s, d)) // feeds bands + verify
    bandedNearDupPairs(bits, PerceptIdOffset)
  }

  /** B306 — MEDIA DEDUP MANIFEST: the composition a curation team ships
    * after near-dup detection — B290's verified pair graph resolved into
    * clusters by [[graft.operators.GraphOps.connectedComponents]]
    * (pointer-jumping, the b63 machinery UNCHANGED), canonical keep =
    * min id per cluster (the b42 keep-first rule), and the per-cluster
    * manifest row (members, planted members, drops). The oracle chains
    * the b290 CTEs verbatim under WITH RECURSIVE transitive closure, so
    * pair detection and cluster resolution are hash-pinned END TO END —
    * a near-dup pass whose pairs are right but whose clustering drops the
    * wrong member is exactly the bug this composition row catches.
    *
    * Scale posture: the pair graph is candidate-bounded (b290's banding),
    * components run pointer-jumping in O(log diameter) rounds over
    * |nodes| rows — no driver-side union-find (the b63 posture); the
    * manifest is one component-keyed rollup. */
  private val b306 = entry(
    "b306_media_dedup_manifest",
    s"""WITH RECURSIVE
       |$neardupCtesDuck,
       |prs(a, b) AS (SELECT da, db FROM ham WHERE hamming <= $PerceptRadius),
       |edges(a, b) AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
       |nodes(n) AS (SELECT media_id FROM ids),
       |reach(n, m) AS (
       |  SELECT n, n FROM nodes
       |  UNION
       |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m),
       |comp AS (SELECT n, min(m) AS component FROM reach GROUP BY n)
       |SELECT component AS cluster_id,
       |       CAST(count(*) AS BIGINT) AS n_members,
       |       CAST(sum(CASE WHEN n >= $PerceptIdOffset THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_planted,
       |       CAST(count(*) - 1 AS BIGINT) AS n_dropped
       |FROM comp GROUP BY component HAVING count(*) >= 2
       |ORDER BY cluster_id""".stripMargin) { (s, d) =>
    val bits = QueryScope.materialize("bits")(bitRows(s, d))
    val pairs = bandedNearDupPairs(bits, PerceptIdOffset)
    val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val nodes = bits.select(col("media_id").as("n")).distinct()
    graft.operators.GraphOps.connectedComponents(edges, nodes)
      .groupBy(col("component").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("n") >= PerceptIdOffset, 1L).otherwise(0L))
          .as("n_planted"))
      .filter(col("n_members") >= 2)
      .select(col("cluster_id"), col("n_members"), col("n_planted"),
        (col("n_members") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  val entries: Seq[Entry] = Seq(b290, b306)
}

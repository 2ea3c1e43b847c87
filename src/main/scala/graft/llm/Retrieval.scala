package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Registry._
import graft.exec.{QueryScope, WorkDirs}
import graft.sources.Tables

/** FULL-TEXT RETRIEVAL over the documents corpus (SURVEY §2B rows
  * B107/B108/B108b/B109) — the query side of a training-data store: BM25
  * ranking, the inverted-index layout that serves it, and incremental
  * maintenance of the written index ([[mergeIndex]]: delta-keyed
  * broadcast split, untouched blocks pass through untouched).
  *
  * B107 — Okapi BM25 top-k: the standard lexical ranking function
  * (Robertson et al.; the Lucene variant of idf). Everything feeding the
  * score is an exact integer (tf, df, N, dl) produced by corpus
  * aggregation; the float math is a fixed scalar expression evaluated
  * identically in both engines, and ranking uses the ROUNDED score with a
  * doc_id tiebreak (the b95 rule) so rank boundaries are engine-identical.
  * RetrievalSpec measures every score's distance from its 4dp rounding
  * boundary (≫ cross-engine float drift) and replays the whole ranking in
  * a plain-JVM BM25 oracle. The corpus is exploded exactly TWICE — once
  * unpruned for dl, once query-term-pruned for tf — and df is derived
  * from the (small, localCheckpointed) tf relation rather than a third
  * corpus pass (VERDICT r8 item 6).
  *
  * B108 — inverted index: term → sorted postings, each posting PACKED as
  * `doc_id * 4096 + (position+1)` into one BIGINT (delta-friendly, and
  * array hashing stays primitive — no nested structs on the t2 surface).
  * The BUILD is blocked (the classic IR skew fix, VERDICT r8 weak): the
  * shuffle key is `(term, doc_id div docsPerBlock)`, so no aggregation
  * row ever exceeds docsPerBlock·maxDocLen postings even for a stopword
  * term at 100 TB. The t2 row (one row per term) is a PRESENTATION merge
  * of the blocks: block ranges partition doc_id space, so per-block
  * distinct-doc counts SUM to df and block_no-ordered concatenation of
  * the sorted blocks IS the globally sorted postings list (packed values
  * are monotone in doc_id). RetrievalSpec pins blocked ≡ monolithic at a
  * forced-small block size. Positions above [[MaxPos]] fail LOUDLY at
  * build (raise_error), never silently alias into the next doc's posting
  * space — longer docs chunk first (B103).
  *
  * B108b — phrase query "table hash" answered FROM THE WRITTEN BLOCKED
  * INDEX: probe reads are term-pruned at the scan (range-clustered,
  * sorted file layout → row-group min/max pruning; PushedFilters asserted
  * in RetrievalSpec), and phrase adjacency is `array_intersect(p1+1, p2)`
  * per block — the +1 shift can cross neither a doc boundary (positions
  * capped at [[MaxPos]] < 4095) nor a block boundary (block_no is a pure
  * function of doc_id). The oracle recomputes the phrase from raw text,
  * so hash-green proves the blocked write → prune → intersect path
  * lossless. The index lands in a [[graft.exec.WorkDirs]] directory.
  *
  * Scale posture (100 TB): the query set is a broadcast literal; tf
  * aggregates only (doc, query-term) pairs — the corpus-wide explode is
  * map-side and the semi join on query terms prunes BEFORE the shuffle;
  * dl/avgdl is one per-doc count; df/stats are broadcast; the ranking
  * window partitions by query_id. The index build is one gram-keyed
  * aggregation (b93's shuffle shape) with blocked keys bounding row size.
  */
object Retrieval {

  private val PosBits = 4096L

  /** Max stored position (1-based). 4094 keeps the b108b +1 shift inside
    * the doc's 4096-slot even for the last token. */
  val MaxPos = 4094L

  /** Production block granularity: a block holds ≤ this many docs' worth
    * of one term's postings (≤ docsPerBlock·maxDocLen array elements). */
  val DocsPerBlock = 1024L

  /** The literal query workload: (query_id, term). */
  private[graft] val QueryTerms: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "join",
    2L -> "window", 2L -> "agg", 2L -> "stream",
    3L -> "fast", 3L -> "table", 3L -> "scan")

  /** B113's workload: the base queries plus one RARE-term query (df=25 vs
    * ~390 for every other vocab word) — the skew block-max pruning exists
    * for. On an all-common workload upper bounds are flat across blocks
    * and pruning correctly never fires; the rare term makes θ land above
    * the common-score floor so rare-term-free blocks prune. */
  private val RareQueryTerms: Seq[(Long, String)] =
    QueryTerms ++ Seq(4L -> "dup", 4L -> "merge")

  private def queriesDf(s: SparkSession,
      qts: Seq[(Long, String)] = QueryTerms): DataFrame = {
    import s.implicits._
    qts.toDF("query_id", "term")
  }

  private[graft] def duckQueryValues(qts: Seq[(Long, String)] = QueryTerms): String =
    qts.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  /** BM25 contribution — written ONCE as SQL text so Spark and DuckDB
    * evaluate the identical float expression tree (k1=1.2, b=0.75,
    * Lucene idf). All inputs integral except avgdl. */
  private def bm25Expr(ln: String): String =
    s"$ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * 2.2) / " +
      "(tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"

  /** The corpus-scan BM25 CTE chain WITHOUT the leading WITH, ending in
    * `score` (query_id, doc_id, s) — shared by [[bm25OracleSql]]'s
    * ranking tail and B261's evaluation oracle (the b94 composition
    * convention). */
  private[graft] def bm25ScoreCtesDuck(qts: Seq[(Long, String)] = QueryTerms): String =
    s"""q AS (SELECT * FROM (VALUES ${duckQueryValues(qts)}) AS v(query_id, term)),
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
       |qt AS (SELECT DISTINCT term FROM q),
       |tf AS (SELECT doc_id, term, count(*) AS tf
       |       FROM toks JOIN qt USING (term) GROUP BY doc_id, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |contrib AS (
       |  SELECT q.query_id, tf.doc_id,
       |         ${bm25Expr("ln")} AS c
       |  FROM q JOIN tf USING (term) JOIN df USING (term)
       |         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
       |score AS (SELECT query_id, doc_id, sum(c) AS s
       |          FROM contrib GROUP BY query_id, doc_id)""".stripMargin

  /** The full-corpus BM25 oracle — shared verbatim by b107 (corpus-scan
    * spelling) and b111 (index-served spelling): both must produce the
    * identical ranking, so both hash against the one definition. */
  private[graft] def bm25OracleSql(qts: Seq[(Long, String)] = QueryTerms): String =
    s"""WITH ${bm25ScoreCtesDuck(qts)}
       |SELECT CAST(query_id AS BIGINT) AS query_id, rn, doc_id, bm25 FROM (
       |  SELECT query_id, doc_id, round(s, 4) AS bm25,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY round(s, 4) DESC, doc_id) AS INTEGER) AS rn
       |  FROM score) t
       |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin

  /** The scoring tail both BM25 spellings share once (tf, df, dl, stats)
    * exist: broadcast-joined contributions, per-query sum — the raw
    * (query_id, doc_id, s) relation B261's evaluation also reads. */
  private def bm25Scores(s: SparkSession, tf: DataFrame, dfreq: DataFrame,
      dl: DataFrame, stats: DataFrame): DataFrame =
    broadcast(queriesDf(s)).join(tf, "term").join(broadcast(dfreq), "term")
      .join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("c", expr(bm25Expr("ln")))
      .groupBy("query_id", "doc_id").agg(sum(col("c")).as("s"))

  /** [[bm25Scores]] + top-10 on the ROUNDED score with doc_id tiebreak. */
  private def bm25Rank(s: SparkSession, tf: DataFrame, dfreq: DataFrame,
      dl: DataFrame, stats: DataFrame): DataFrame =
    rankTop10(bm25Scores(s, tf, dfreq, dl, stats))

  /** The shared ranking tail over raw (query_id, doc_id, s) scores:
    * top-10 on the ROUNDED score with doc_id tiebreak (the b95 rule). */
  private def rankTop10(scores: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("s"), 4).desc, col("doc_id"))
    scores
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("rn"), col("doc_id"),
        round(col("s"), 4).as("bm25"))
      .orderBy("query_id", "rn")
  }

  /** B107 — BM25 top-10 docs per query, computed by corpus scan. */
  private val b107 = entry(
    "b107_text_bm25", bm25OracleSql(),
    bench = true) { (s, d) => bm25TopDocsScan(s, d) }

  /** b107's corpus-scan internals: the RAW scores (query_id, doc_id, s)
    * plus the CHECKPOINTED query-term tf relation — B261's evaluation
    * ranks both directions off the scores and derives its relevance
    * labels from the same tf, so the labels cost no second corpus
    * explode. */
  private[graft] def bm25ScanParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val qt = queriesDf(s).select("term").distinct()
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    // n from dl, not a second documents scan: every doc has >= 1 token
    val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    // tf is O(docs × |query terms|) — tiny relative to the corpus — and
    // feeds two consumers (score join + df), so checkpoint it once
    // rather than re-run the pruned corpus explode.
    val tf = QueryScope.materialize("tf")(toks.join(broadcast(qt), "term")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    // doc_id is already distinct within tf → df = per-term row count.
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    (bm25Scores(s, tf, dfreq, dl, stats), tf)
  }

  /** b107's corpus-scan ranking as a composable relation (b184 serves
    * snippets off it). */
  private[graft] def bm25TopDocsScan(s: SparkSession, d: String): DataFrame =
    rankTop10(bm25ScanParts(s, d)._1)

  /** Tokenized (doc_id, p, tok) with the pack-limit guard: any position
    * beyond [[MaxPos]] raises at build time instead of silently aliasing
    * packed values into the next doc_id's posting space. */
  private def guardedToks(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode_outer(split(col("text"), " ")).as(Seq("p", "tok")))
      .select(col("doc_id"),
        when(col("p") >= lit(MaxPos), raise_error(concat(
          lit("B108: doc "), col("doc_id"),
          lit(s" exceeds $MaxPos tokens — chunk first (B103)")))
            .cast("long"))
          .otherwise(col("p").cast("long")).as("p"),
        col("tok"))

  /** The BLOCKED inverted-index relation — the production build shape:
    * one row per (term, block_no) where block_no = doc_id div
    * docsPerBlock. Row size is bounded by docsPerBlock·maxDocLen even for
    * stopword terms; df/cnt are per-block. Shuffle key (term, block_no)
    * splits hot terms across reducers. */
  def invertedIndexBlocked(docs: DataFrame,
      docsPerBlock: Long = DocsPerBlock): DataFrame =
    guardedToks(docs)
      .withColumn("block_no", expr(s"doc_id div $docsPerBlock"))
      .groupBy(col("tok"), col("block_no"))
      .agg(countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("cnt"),
        sort_array(collect_list(col("doc_id") * PosBits + col("p") + 1))
          .as("postings"))
      .select(col("tok").as("term"), col("block_no"), col("df"),
        col("cnt"), col("postings"))

  /** One row per term — the t2 presentation of a BLOCKED index relation:
    * blocks partition doc_id ranges, so per-block distinct-doc counts sum
    * to the global df, and concatenating the sorted blocks in block_no
    * order is the globally sorted postings list (packed values are
    * monotone in doc_id). Only this final presentation materializes an
    * unbounded per-term array — every shuffle row upstream is
    * block-bounded. */
  def presentTerms(blocked: DataFrame): DataFrame =
    blocked
      .groupBy(col("term"))
      .agg(sum(col("df")).as("df"),
        sum(col("cnt")).as("cnt"),
        expr("flatten(transform(" +
          "sort_array(collect_list(struct(block_no, postings)))," +
          " x -> x.postings))").as("postings"))

  def invertedIndex(docs: DataFrame,
      docsPerBlock: Long = DocsPerBlock): DataFrame =
    presentTerms(invertedIndexBlocked(docs, docsPerBlock))

  /** B109 — INCREMENTAL maintenance of a written blocked index: fold a
    * delta corpus in without rescanning the old corpus. The delta's
    * (term, block_no) key set is tiny (new docs land in few blocks) and
    * BROADCAST, so the old index splits into an untouched stream that
    * PASSES THROUGH with no aggregation or wide shuffle (broadcast anti
    * join) and a touched stream (broadcast semi join) that re-aggregates
    * with the delta blocks. Old and delta doc_id sets are disjoint by
    * contract (append-only ingest; in-place updates go through CDC/B72
    * then rebuild of the affected blocks), so per-key df/cnt SUM and the
    * two sorted posting arrays merge by one flatten+sort of bounded
    * (≤2·block-bounded) rows. At 100 TB the cost is O(|delta| + touched
    * blocks), not O(corpus). */
  def mergeIndex(oldIndex: DataFrame, delta: DataFrame): DataFrame = {
    val keys = Seq("term", "block_no")
    val dkeys = delta.select(keys.map(col): _*).distinct()
    val untouched =
      oldIndex.join(broadcast(dkeys), keys, "left_anti")
    val touched =
      oldIndex.join(broadcast(dkeys), keys, "left_semi")
        .unionByName(delta)
        .groupBy(keys.map(col): _*)
        .agg(sum(col("df")).as("df"), sum(col("cnt")).as("cnt"),
          sort_array(flatten(collect_list(col("postings")))).as("postings"))
    untouched.unionByName(touched)
  }

  private def indexOracleCtes: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |toks AS (
       |  SELECT doc_id, ws,
       |         unnest(generate_series(1, len(ws))) AS i,
       |         unnest(ws) AS tok
       |  FROM w)""".stripMargin

  /** Full-rebuild index oracle — shared by b108 (one-shot build), b109
    * (incremental merge) and b112 (streaming merge): all three must
    * present the identical one-row-per-term index, so all hash against
    * the one full-corpus definition. */
  private[graft] def indexRebuildSql: String =
    s"""WITH $indexOracleCtes
       |SELECT tok AS term,
       |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       |       CAST(count(*) AS BIGINT) AS cnt,
       |       array_to_string(list_sort(list(doc_id * $PosBits + i)), ',') AS postings
       |FROM toks GROUP BY tok ORDER BY term""".stripMargin

  /** The shared t2 presentation: one string-joined-postings row per term
    * (the b21 rule: no complex-typed result columns). */
  private[graft] def presentIndexForHash(blocked: DataFrame): DataFrame =
    presentTerms(blocked)
      .withColumn("postings", array_join(col("postings"), ","))
      .orderBy("term")

  /** B108 — inverted-index build. The on-disk index b108b serves from
    * keeps the real BIGINT arrays. */
  private val b108 = entry(
    "b108_index_build", indexRebuildSql,
    bench = true) { (s, d) =>
    presentIndexForHash(
      invertedIndexBlocked(Tables.documents(s, d).select("doc_id", "text")))
  }

  /** B108b — phrase query "table hash" SERVED FROM THE WRITTEN BLOCKED
    * INDEX: range-clustered sorted write, term-pruned probe read,
    * packed-postings adjacency intersect per block. Oracle recomputes
    * from raw text. */
  private val b108b = entry(
    "b108b_index_phrase",
    s"""WITH $indexOracleCtes,
       |m AS (SELECT t1.doc_id
       |      FROM toks t1 JOIN toks t2
       |        ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1
       |      WHERE t1.tok = 'table' AND t2.tok = 'hash')
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val index = WorkDirs("b108_index") + "/index"
    invertedIndexBlocked(Tables.documents(s, d).select("doc_id", "text"))
      .repartitionByRange(8, col("term"))
      .sortWithinPartitions("term", "block_no")
      .write.mode("overwrite").parquet(index)
    phraseFromIndex(s.read.parquet(index), "table", "hash")
  }

  /** Adjacency from packed postings over the BLOCKED index: positions of
    * `first` shifted +1 intersected with positions of `second`, block by
    * block — same doc iff same `div $PosBits` quotient, which +1 can
    * never cross (positions capped at [[MaxPos]] < 4095), and the doc's
    * block_no is unchanged by the shift, so the equi join on block_no
    * loses nothing. Both filtered sides are one term's block rows —
    * Spark broadcasts the smaller. */
  def phraseFromIndex(index: DataFrame, first: String, second: String): DataFrame = {
    val p1 = index.filter(col("term") === first)
      .select(col("block_no"),
        expr("transform(postings, x -> x + 1)").as("p1"))
    val p2 = index.filter(col("term") === second)
      .select(col("block_no"), col("postings").as("p2"))
    p1.join(p2, "block_no")
      .select(explode(expr("array_intersect(p1, p2)")).as("m"))
      .select(expr(s"m div $PosBits").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
      .orderBy("doc_id")
  }

  /** Block granularity for the b109 entry: small enough that every SF's
    * doc range spans several blocks, so the pass-through/touched split is
    * actually exercised (500 docs → blocks 0-3; 80%-split lands mid-block
    * → blocks below it pass through untouched). */
  private val MergeDocsPerBlock = 128L

  /** B109 — incremental index merge, hash-pinned against b108's full
    * rebuild: write the blocked index of the FIRST 80% of docs, build the
    * delta from the remaining 20%, [[mergeIndex]] them, and present one
    * row per term. The oracle rebuilds from the FULL corpus — hash-green
    * proves incremental ≡ rebuild. The only driver traffic is the
    * O(scalar) max(doc_id) that picks the split. */
  private val b109 = entry(
    "b109_index_merge", indexRebuildSql) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val split = docs.agg(max("doc_id")).head.getLong(0) * 4 / 5
    val index = WorkDirs("b109_index") + "/index"
    invertedIndexBlocked(docs.filter(col("doc_id") < split), MergeDocsPerBlock)
      .repartitionByRange(8, col("term"))
      .sortWithinPartitions("term", "block_no")
      .write.mode("overwrite").parquet(index)
    val delta =
      invertedIndexBlocked(docs.filter(col("doc_id") >= split), MergeDocsPerBlock)
    presentIndexForHash(mergeIndex(s.read.parquet(index), delta))
  }

  private[graft] def b111IndexDir: String = WorkDirs("b111_index")

  /** Per-JVM BUILD memo for the index-serving entries (VERDICT r10 item 3):
    * artifacts under `dir` are (re)built only when the (sfDir, granularity)
    * key changes. Production builds an index once and serves many queries;
    * before this memo every bench rep re-paid the build, so the number a
    * user cares about — query cost against a STANDING index — was invisible
    * and the 2× perf gate couldn't bite on it. With the memo, bench rep 1
    * pays build+serve and later reps serve only; min-of-reps IS the serve
    * cost. Correctness drives are single-pass and unaffected. */
  private val builtArtifacts =
    scala.collection.concurrent.TrieMap.empty[String, (String, Long)]
  private def buildOnce(dir: String, sfDir: String, granularity: Long)
      (build: => Unit): Unit = {
    // SPARK_GRAFT_REBUILD_INDEX=1 defeats the memo — for measuring the
    // build phase explicitly (build+serve per rep, the pre-r11 metric)
    val always = sys.env.get("SPARK_GRAFT_REBUILD_INDEX").contains("1")
    val hit = !always && builtArtifacts.get(dir).contains((sfDir, granularity))
    // SPARK_GRAFT_MEMO_LOG=1: per-rep build/serve attribution for bench
    // adjudication — proves whether min-of-reps measured serve-only
    if (sys.env.get("SPARK_GRAFT_MEMO_LOG").contains("1"))
      System.err.println(s"[graft-memo] dir=$dir hit=$hit")
    if (!hit) {
      build
      builtArtifacts(dir) = (sfDir, granularity)
    }
  }

  /** B111 — BM25 SERVED FROM THE WRITTEN INDEX: the production query
    * path. Build writes three artifacts — the blocked index, a doc-length
    * sidecar (same tokenizer as b107's dl, so null-text semantics match),
    * and a ONE-ROW corpus-stats parquet (n, avgdl) — then the query side
    * never touches the corpus: tf = per-doc position counts exploded from
    * the QUERY TERMS' postings only (term-pruned probe read, PushedFilters
    * In), df = per-term sum of block dfs from the same pruned rows, dl by
    * doc-keyed join against the sidecar, stats from the one-row artifact.
    * Query cost is O(postings of query terms + matched docs), not
    * O(corpus) — at 100 TB that is the entire point of having the index.
    * The oracle is b107's full-corpus SQL verbatim: hash-green proves
    * index-served ≡ corpus-scan BM25 end to end. */
  /** Build side shared by b111 (static serving) and b114 (streamed
    * serving): the three artifacts — blocked term index, doc-length
    * sidecar (same tokenizer as b107's dl, so null-text semantics match),
    * and a ONE-ROW corpus-stats parquet (n, avgdl) — one corpus pass each. */
  private def writeBm25Artifacts(docs: DataFrame, dir: String): Unit = {
    invertedIndexBlocked(docs)
      .repartitionByRange(8, col("term"))
      .sortWithinPartitions("term", "block_no")
      .write.mode("overwrite").parquet(s"$dir/terms")
    // dl feeds two writes (dl + stats) — materialize the tiny per-doc
    // aggregate once instead of re-running the corpus explode per consumer
    val dlBuild = QueryScope.materialize("dlBuild")(docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id").agg(count(lit(1)).as("dl")))
    dlBuild.write.mode("overwrite").parquet(s"$dir/dl")
    dlBuild.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  private val b111 = entry(
    "b111_bm25_from_index", bm25OracleSql(), bench = true) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    buildOnce(b111IndexDir, d, DocsPerBlock) {
      writeBm25Artifacts(docs, b111IndexDir)
    }
    // -- query side: corpus never read again
    val terms = QueryTerms.map(_._2).distinct
    val probe = QueryScope.materialize("probe")(s.read.parquet(s"$b111IndexDir/terms")
      .filter(col("term").isin(terms: _*))) // tiny (query-term block rows); feeds tf + df
    val tf = probe
      .select(col("term"), explode(col("postings")).as("m"))
      .select(col("term"), expr(s"m div $PosBits").as("doc_id"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = probe.groupBy("term").agg(sum(col("df")).as("df"))
    val dl = s.read.parquet(s"$b111IndexDir/dl")
    val stats = s.read.parquet(s"$b111IndexDir/stats")
    bm25Rank(s, tf, dfreq, dl, stats)
  }

  private[graft] def b114Dir: String = WorkDirs("b114_serve")

  /** B114 — STREAMING QUERY-SIDE SERVING against a FROZEN index (the
    * closing cell of the retrieval arc: b112 streams the BUILD side, this
    * streams the QUERY side — the b96/b104 one-implementation-two-modes
    * pattern applied to b111). The artifacts are written once and never
    * touched again; the query workload arrives as 3 term-ordered
    * micro-batches, so every query's terms STRADDLE batch boundaries;
    * foreachBatch serves each batch exactly like b111's static query path
    * — read ONLY the batch terms' postings (term-pruned probe read, the
    * same PushedFilters-In shape RetrievalSpec asserts for b111), df from
    * the same pruned rows, dl/stats from the sidecars — and appends
    * per-(query, doc) BM25 contributions tagged with the batch id. The
    * final ranking sums contributions across batches: a query scored in
    * three installments must hash-match the same full-corpus oracle as
    * b107/b111 verbatim (streamed serving ≡ corpus scan; the float-sum
    * reorder is covered by RetrievalSpec's measured rounding margins).
    *
    * Scale: each micro-batch costs O(batch query-term postings + matched
    * docs) — never O(corpus), never O(index) — because the batch's term
    * set (driver-collected, bounded by the batch's query count — the
    * serving loop's natural unit) prunes the index read just like b111's
    * static probe. Contributions are blind appends (no read-modify-write),
    * so serving parallelizes across batches; the cross-batch sum is one
    * map-side-combinable aggregation over O(queries·matched docs) rows. */
  private val b114 = entry(
    "b114_stream_bm25_serve", bm25OracleSql()) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val dir = b114Dir
    buildOnce(dir, d, DocsPerBlock) { // frozen from here on
      writeBm25Artifacts(docs, dir)
    }
    // idempotent re-runs: contributions accumulate per run, so start clean
    val contribPath = new org.apache.hadoop.fs.Path(s"$dir/contrib")
    contribPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(contribPath, true)
    graft.streaming.StreamingOps.writeChunksDf(
      queriesDf(s), s"$dir/queries", n = 3, sortCols = Seq("term", "query_id"))
    val qSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType)))
    val stream = graft.streaming.StreamingOps.readStream(s, s"$dir/queries", qSchema)
    val dl = s.read.parquet(s"$dir/dl")
    val stats = s.read.parquet(s"$dir/stats")
    graft.streaming.StreamingOps.runForeachBatch(stream, "append") { (batch, id) =>
      val qb = QueryScope.materialize("qb")(batch)
      val batchTerms = qb.select("term").distinct().collect().map(_.getString(0))
      if (batchTerms.nonEmpty) {
        val probe = QueryScope.materialize("probe")(s.read.parquet(s"$dir/terms")
          .filter(col("term").isin(batchTerms.toSeq: _*))) // tiny; feeds tf + df
        val tf = probe
          .select(col("term"), explode(col("postings")).as("m"))
          .select(col("term"), expr(s"m div $PosBits").as("doc_id"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = probe.groupBy("term").agg(sum(col("df")).as("df"))
        broadcast(qb).join(tf, "term").join(broadcast(dfreq), "term")
          .join(dl, "doc_id").crossJoin(broadcast(stats))
          .withColumn("c", expr(bm25Expr("ln")))
          .select(col("query_id"), col("doc_id"), col("c"),
            lit(id).as("batch_id"))
          .write.mode("append").parquet(s"$dir/contrib")
      }
    }
    rankTop10(
      s.read.parquet(s"$dir/contrib")
        .groupBy("query_id", "doc_id").agg(sum(col("c")).as("s")))
  }

  private[graft] def b113IndexDir: String = WorkDirs("b113_index")

  /** b113 block granularity: small enough that the gate corpora span many
    * blocks (500 docs → 32 blocks), so the prune step has real choices. */
  private val PruneDocsPerBlock = 16L

  /** Seed breadth: exact-score the top-12 blocks per query by upper bound
    * before pruning. Wide enough that a rare term's docs concentrate ≥10
    * exact scores into the seed, pushing θ above the common-score floor. */
  private val SeedBlockCount = 12

  /** tf-saturation factor of [[bm25Expr]] alone — the per-(doc, term)
    * "impact" a block-max index stores the max of (Ding & Suel's
    * block-max WAND metadata, recast for a two-phase distributed plan). */
  private def bm25SatExpr: String =
    "(tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"

  private def bm25IdfExpr: String =
    "ln(1.0 + (n - df + 0.5) / (df + 0.5))"

  /** Spec introspection surface for [[bm25BlockMax]]: every candidate
    * (query_id, block_no), the survivors after θ-pruning, and the final
    * ranking. */
  private[graft] final case class BlockMaxParts(
      candidates: DataFrame, survivors: DataFrame, ranked: DataFrame)

  /** B113 — exact top-10 BM25 with BLOCK-MAX PRUNING, the distributed
    * recast of block-max WAND (Ding & Suel, SIGIR'11): WAND's sequential
    * cursor-and-threshold loop doesn't distribute, but its index metadata
    * does. Build writes a fourth artifact next to b111's three: per
    * (term, block) the MAX per-doc impact (tf-saturation at the doc's own
    * tf and dl). Query runs two phases, never reading the corpus:
    *
    *  1. METADATA ONLY — per-block upper bounds ub(q, block) = Σ over the
    *     query's terms present of idf·max_impact, from a columnar read
    *     that never touches the postings column. Exact-score the top-S
    *     blocks per query (the seed), and set θ = the seed's 10th-best
    *     ROUNDED score.
    *  2. PRUNE + EXACT — drop every block with round(ub + 1e-9, 4) < θ:
    *     ub bounds every member doc's score (each contribution ≤ its
    *     term's block max impact; absent terms contribute 0 and all
    *     contributions are positive since Lucene idf > 0), round is
    *     monotone, and the 1e-9 slack absorbs summation-order float
    *     noise, so no pruned doc can reach rank ≤ 10. Exact-score the
    *     survivors' postings and rank with the shared [[rankTop10]] tail.
    *
    * Pruning depends on workload skew: on an all-common-terms query the
    * bounds are flat and nothing prunes (correctly); the rare-term query
    * in [[RareQueryTerms]] is where blocks drop (25-90% of candidate
    * blocks at the gate SFs, measured). The oracle is the full-scoring
    * SQL on the same workload — hash-green proves pruning is lossless.
    *
    * Scale posture (100 TB): phase 1 reads O(blocks of query terms) rows
    * of three scalar columns — no postings I/O, no corpus; the seed and
    * survivor sets are O(candidate blocks) broadcasts (the mergeIndex
    * dkeys shape); postings are exploded only for surviving blocks. The
    * win over b111 is exactly the pruned blocks' postings I/O — the
    * production knob is docsPerBlock, trading bound tightness against
    * block count. */
  private[graft] def bm25BlockMax(s: SparkSession, d: String,
      qts: Seq[(Long, String)] = RareQueryTerms,
      docsPerBlock: Long = PruneDocsPerBlock,
      seedBlocks: Int = SeedBlockCount): BlockMaxParts = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // ---- build: blocked index + dl/stats sidecars + block-max impacts
    // (once per (sfDir, granularity) per JVM — bench reps ≥ 2 serve only)
    buildOnce(b113IndexDir, d, docsPerBlock) {
      invertedIndexBlocked(docs, docsPerBlock)
        .repartitionByRange(8, col("term"))
        .sortWithinPartitions("term", "block_no")
        .write.mode("overwrite").parquet(s"$b113IndexDir/terms")
      val toks = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      // dl feeds four consumers (dl write, stats write, impact join, avgdl)
      // — materialize the tiny per-doc aggregate once instead of re-running
      // the corpus explode per consumer
      val dlBuild = QueryScope.materialize("dlBuild")(
        toks.groupBy("doc_id").agg(count(lit(1)).as("dl")))
      dlBuild.write.mode("overwrite").parquet(s"$b113IndexDir/dl")
      dlBuild.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
        .write.mode("overwrite").parquet(s"$b113IndexDir/stats")
      toks.groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
        .join(dlBuild, "doc_id")
        .crossJoin(broadcast(dlBuild.agg(avg(col("dl")).as("avgdl"))))
        .withColumn("impact", expr(bm25SatExpr))
        .withColumn("block_no", expr(s"doc_id div $docsPerBlock"))
        .groupBy("term", "block_no").agg(max(col("impact")).as("max_impact"))
        .write.mode("overwrite").parquet(s"$b113IndexDir/bmax")
    }
    // ---- query phase 1: bounds from metadata only (no postings column)
    val terms = qts.map(_._2).distinct
    val qdf = broadcast(queriesDf(s, qts))
    val meta = QueryScope.materialize("meta")(s.read.parquet(s"$b113IndexDir/terms")
      .select("term", "block_no", "df")
      .filter(col("term").isin(terms: _*))) // tiny; feeds global df
    val dfreq = meta.groupBy("term").agg(sum(col("df")).as("df"))
    val dl = s.read.parquet(s"$b113IndexDir/dl")
    val stats = s.read.parquet(s"$b113IndexDir/stats")
    // consumed by seed pick + survivor filter
    val qub = QueryScope.materialize("qub")(qdf
      .join(s.read.parquet(s"$b113IndexDir/bmax")
        .filter(col("term").isin(terms: _*)), "term")
      .join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
      .withColumn("u", expr(s"($bm25IdfExpr) * max_impact"))
      .groupBy("query_id", "block_no").agg(sum(col("u")).as("ub_sum")))
    /** Exact scores of the docs in `blocks`' (query_id, block_no) pairs —
      * postings read term-pruned at the scan, block-pruned by broadcast. */
    def scoreBlocks(blocks: DataFrame): DataFrame = {
      val tfB = s.read.parquet(s"$b113IndexDir/terms")
        .filter(col("term").isin(terms: _*))
        .join(broadcast(blocks.select("block_no").distinct()), "block_no")
        .select(col("term"), col("block_no"),
          explode(col("postings")).as("m"))
        .select(col("term"), col("block_no"),
          expr(s"m div $PosBits").as("doc_id"))
        .groupBy("term", "block_no", "doc_id").agg(count(lit(1)).as("tf"))
      qdf.join(tfB, "term")
        .join(broadcast(blocks), Seq("query_id", "block_no"), "left_semi")
        .join(broadcast(dfreq), "term")
        .join(dl, "doc_id").crossJoin(broadcast(stats))
        .withColumn("c", expr(bm25Expr("ln")))
        .groupBy("query_id", "doc_id").agg(sum(col("c")).as("s"))
    }
    val wSeed = Window.partitionBy(col("query_id"))
      .orderBy(col("ub_sum").desc, col("block_no"))
    // consumed by seed scoring + the phase-2 split
    val seeds = QueryScope.materialize("seeds")(qub.withColumn("rn", row_number().over(wSeed))
      .filter(col("rn") <= seedBlocks).select("query_id", "block_no"))
    val seedScores = QueryScope.materialize("seedScores")(scoreBlocks(seeds))
    val wTheta = Window.partitionBy(col("query_id"))
      .orderBy(round(col("s"), 4).desc, col("doc_id"))
    val theta = seedScores
      .withColumn("rn", row_number().over(wTheta))
      .filter(col("rn") === 10)
      .select(col("query_id"), round(col("s"), 4).as("theta"))
    // ---- phase 2: prune non-competitive blocks, exact-score the rest.
    // Blocks partition docs disjointly (block_no = doc_id div docsPerBlock
    // for EVERY term), so per-(query, doc) scores from disjoint block sets
    // never overlap: surviving SEED blocks reuse their phase-1 exact
    // scores, and only never-scored survivor blocks explode postings here
    // (round-10: halves the exact-phase postings I/O when the seed
    // dominates the survivor set, the common case).
    val survivors = qub.join(broadcast(theta), Seq("query_id"), "left")
      .filter(col("theta").isNull ||
        round(col("ub_sum") + lit(1e-9), 4) >= col("theta"))
      .select("query_id", "block_no")
    val survNew = survivors.join(seeds, Seq("query_id", "block_no"), "left_anti")
    val fromSeed = seedScores
      .withColumn("block_no", expr(s"doc_id div $docsPerBlock"))
      .join(broadcast(survivors), Seq("query_id", "block_no"), "left_semi")
      .drop("block_no")
    BlockMaxParts(qub.select("query_id", "block_no"), survivors,
      rankTop10(fromSeed.unionByName(scoreBlocks(survNew))))
  }

  /** B113 — block-max-pruned exact BM25 top-10; oracle is full scoring
    * over the same (rare-term-extended) workload. */
  private val b113 = entry(
    "b113_bm25_blockmax", bm25OracleSql(RareQueryTerms), bench = true) { (s, d) =>
    bm25BlockMax(s, d).ranked
  }

  /** Expansion breadth and weight for B115 (the standard RM3 defaults
    * scaled down to the tiny synthetic vocabulary: 3 expansion terms at
    * half the original-term weight). */
  private val ExpTermsPerQuery = 3
  private val ExpWeight = "5e-1" // exact binary double, shared as SQL text

  /** B115's oracle: two full BM25 passes with the RM3 expansion step
    * between them — every selection key is exact (integer tf sums, string
    * tiebreaks, the pinned base top-10), floats only in the scores both
    * engines compute from the shared [[bm25Expr]] text. */
  private def rm3OracleSql: String =
    s"""WITH q AS (SELECT * FROM (VALUES ${duckQueryValues()}) AS v(query_id, term)),
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
       |qt AS (SELECT DISTINCT term FROM q),
       |tf AS (SELECT doc_id, term, count(*) AS tf
       |       FROM toks JOIN qt USING (term) GROUP BY doc_id, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |contrib AS (
       |  SELECT q.query_id, tf.doc_id, ${bm25Expr("ln")} AS c
       |  FROM q JOIN tf USING (term) JOIN df USING (term)
       |         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
       |score AS (SELECT query_id, doc_id, sum(c) AS s
       |          FROM contrib GROUP BY query_id, doc_id),
       |base AS (SELECT query_id, doc_id FROM (
       |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |    ORDER BY round(s, 4) DESC, doc_id) AS rn FROM score) t
       |  WHERE rn <= 10),
       |toksd AS (SELECT DISTINCT doc_id, term FROM toks),
       |nd AS (SELECT count(DISTINCT doc_id) AS ndocs FROM toksd),
       |tdf AS (SELECT term, count(*) AS cdf FROM toksd GROUP BY 1),
       |kept AS (SELECT term FROM tdf CROSS JOIN nd WHERE cdf * 10 <= ndocs * 9),
       |exp_tf AS (
       |  SELECT b.query_id, t.term, count(*) AS etf
       |  FROM base b JOIN toks t ON t.doc_id = b.doc_id
       |       JOIN kept k ON k.term = t.term
       |  WHERE NOT EXISTS (SELECT 1 FROM q
       |                    WHERE q.query_id = b.query_id AND q.term = t.term)
       |  GROUP BY 1, 2),
       |exp AS (SELECT query_id, term FROM (
       |  SELECT query_id, term, row_number() OVER (PARTITION BY query_id
       |    ORDER BY etf DESC, term) AS rn FROM exp_tf) t
       |  WHERE rn <= $ExpTermsPerQuery),
       |wq AS (SELECT query_id, term, 1e0 AS w FROM q
       |       UNION ALL SELECT query_id, term, $ExpWeight AS w FROM exp),
       |wqt AS (SELECT DISTINCT term FROM wq),
       |tf2 AS (SELECT doc_id, term, count(*) AS tf
       |        FROM toks JOIN wqt USING (term) GROUP BY doc_id, term),
       |df2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY term),
       |contrib2 AS (
       |  SELECT wq.query_id, tf2.doc_id, wq.w * (${bm25Expr("ln")}) AS c
       |  FROM wq JOIN tf2 USING (term) JOIN df2 USING (term)
       |         JOIN dl ON tf2.doc_id = dl.doc_id CROSS JOIN stats),
       |score2 AS (SELECT query_id, doc_id, sum(c) AS s
       |           FROM contrib2 GROUP BY query_id, doc_id)
       |SELECT CAST(query_id AS BIGINT) AS query_id, rn, doc_id, bm25 FROM (
       |  SELECT query_id, doc_id, round(s, 4) AS bm25,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY round(s, 4) DESC, doc_id) AS INTEGER) AS rn
       |  FROM score2) t
       |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin

  /** B115 — RM3 PSEUDO-RELEVANCE-FEEDBACK QUERY EXPANSION (Lavrenko &
    * Croft SIGIR'01 relevance models; the RM3 interpolation of Abdul-Jaleel
    * et al., TREC'04 — recast with deterministic integer selection): pass 1
    * ranks with plain BM25 (b107's spelling); the top-10 docs per query
    * are taken as pseudo-relevant; the [[ExpTermsPerQuery]] candidate
    * terms with the highest total occurrence count across those docs —
    * excluding the query's own terms (anti join) and >90%-df stopwords
    * (b110's df-cap, broadcast anti join) — join the query at weight
    * [[ExpWeight]]; pass 2 re-ranks with the weighted query, score =
    * Σ w·bm25-contribution.
    *
    * Determinism: the expansion SELECTION is all-integer — base top-10
    * membership is the pinned rounded-rank contract, etf sums are BIGINTs,
    * ties break on the term string — so both engines expand identically;
    * floats appear only in scores built from the shared [[bm25Expr]] text
    * with the measured rounding-margin treatment (RetrievalSpec).
    *
    * Scale posture (100 TB): pass 1 is b107 (probe-pruned tf, broadcast
    * dims); the expansion stage touches only the top docs' tokens (a
    * broadcast semi join of O(queries·10) doc ids against the token
    * projection — never a corpus shuffle) and selects per-query top-3 via
    * one tiny window; pass 2 is BM25 over ≤ |q|+3 terms per query — the
    * same probe-pruned shape. The tokenized projection feeds five
    * consumers, so it is materialized once (at scale: a persisted
    * tokenized column, the production norm). */
  /** Spec introspection surface for [[rm3]]: the selected expansion terms,
    * the raw pass-2 scores (pre-rounding, for margin measurement), and the
    * final ranking. */
  private[graft] final case class Rm3Parts(
      exp: DataFrame, scores: DataFrame, ranked: DataFrame)

  private[graft] def rm3(s: SparkSession, d: String): Rm3Parts = {
    val toks = QueryScope.materialize("toks")(Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term")))
    val qdf = queriesDf(s)
    val dl = QueryScope.materialize("dl")(toks.groupBy("doc_id").agg(count(lit(1)).as("dl")))
    val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tf = QueryScope.materialize("tf")(
      toks.join(broadcast(qdf.select("term").distinct()), "term")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val base = bm25Rank(s, tf, dfreq, dl, stats).select("query_id", "doc_id")
    // -- expansion: integer-keyed selection from the pseudo-relevant docs
    val toksd = toks.distinct()
    val nd = toksd.agg(countDistinct(col("doc_id")).as("ndocs"))
    val capped = toksd.groupBy("term").agg(count(lit(1)).as("cdf"))
      .crossJoin(broadcast(nd))
      .filter(col("cdf") * 10 > col("ndocs") * 9)
      .select("term")
    val expTf = toks.join(broadcast(base), "doc_id")
      .join(broadcast(capped), Seq("term"), "left_anti")
      .join(broadcast(qdf), Seq("query_id", "term"), "left_anti")
      .groupBy("query_id", "term").agg(count(lit(1)).as("etf"))
    val wExp = Window.partitionBy(col("query_id"))
      .orderBy(col("etf").desc, col("term"))
    val exp = expTf.withColumn("rn", row_number().over(wExp))
      .filter(col("rn") <= ExpTermsPerQuery).select("query_id", "term")
    val wq = QueryScope.materialize("wq")(qdf.withColumn("w", expr("1e0"))
      .unionByName(exp.withColumn("w", expr(ExpWeight))))
    // -- pass 2: weighted BM25 over the expanded (still tiny) term set
    val tf2 = QueryScope.materialize("tf2")(
      toks.join(broadcast(wq.select("term").distinct()), "term")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val df2 = tf2.groupBy("term").agg(count(lit(1)).as("df"))
    val scores = broadcast(wq).join(tf2, "term").join(broadcast(df2), "term")
      .join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("c", col("w") * expr(bm25Expr("ln")))
      .groupBy("query_id", "doc_id").agg(sum(col("c")).as("s"))
    Rm3Parts(exp, scores, rankTop10(scores))
  }

  private val b115 = entry("b115_bm25_rm3", rm3OracleSql) { (s, d) =>
    rm3(s, d).ranked
  }

  /** B116 — DEDUP-COLLAPSED RETRIEVAL (serve-time duplicate collapse, the
    * search-engine norm): BM25 over the dup-injected corpus (b42/b90's
    * augmented `docsWithDups`, where every 7th doc re-appears under a
    * shifted id), then per (query, duplicate-cluster) only the best-ranked
    * member survives before the final top-10 — so a duplicated hit
    * occupies ONE result slot, not two, and carries how many copies it
    * absorbed. Clusters are exact-content (min doc_id over the content
    * partition, b42's grouping); on this corpus the τ=0.99 near-dup
    * closure (b90) collapses the identical clusters — the pinned
    * "organic max non-identical jaccard 0.989" property — so exact is the
    * honest cluster map, not a shortcut. Injected copies tie their
    * originals' scores exactly (identical text → identical tf/dl), which
    * is what makes the collapse non-vacuous on the gate corpora
    * (RetrievalSpec asserts collapsed ≠ uncollapsed).
    *
    * Determinism: cluster ids are min-BIGINTs over exact content groups;
    * within-cluster choice and the final ranking both order by
    * (round(score,4) desc, doc_id); n_collapsed is an exact count.
    *
    * Scale posture (100 TB): the cluster map is one hash-partitioned
    * window over the content hash (b42's shuffle shape, no pairwise work);
    * scoring is probe-pruned BM25; the collapse is a doc-keyed broadcast
    * join of the (tiny) scored relation with two O(matched docs) windows.
    * Swapping the exact map for B90's MinHash canonical ids changes one
    * join input, nothing else — which is the point of composing from the
    * registry's parts. */
  private val b116 = entry(
    "b116_bm25_dedup_collapse",
    s"""WITH q AS (SELECT * FROM (VALUES ${duckQueryValues()}) AS v(query_id, term)),
       |all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
       |canon AS (SELECT doc_id,
       |                 min(doc_id) OVER (PARTITION BY text) AS canonical_id
       |          FROM all_docs),
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM all_docs),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
       |qt AS (SELECT DISTINCT term FROM q),
       |tf AS (SELECT doc_id, term, count(*) AS tf
       |       FROM toks JOIN qt USING (term) GROUP BY doc_id, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |contrib AS (
       |  SELECT q.query_id, tf.doc_id, ${bm25Expr("ln")} AS c
       |  FROM q JOIN tf USING (term) JOIN df USING (term)
       |         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
       |score AS (SELECT query_id, doc_id, sum(c) AS s
       |          FROM contrib GROUP BY query_id, doc_id),
       |best AS (
       |  SELECT sc.query_id, sc.doc_id, sc.s,
       |         count(*) OVER (PARTITION BY sc.query_id, c.canonical_id)
       |           AS n_collapsed,
       |         row_number() OVER (PARTITION BY sc.query_id, c.canonical_id
       |           ORDER BY round(sc.s, 4) DESC, sc.doc_id) AS rm
       |  FROM score sc JOIN canon c ON c.doc_id = sc.doc_id)
       |SELECT CAST(query_id AS BIGINT) AS query_id, rn, doc_id, bm25,
       |       n_collapsed FROM (
       |  SELECT query_id, doc_id, round(s, 4) AS bm25, n_collapsed,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY round(s, 4) DESC, doc_id) AS INTEGER) AS rn
       |  FROM best WHERE rm = 1) t
       |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin) { (s, d) =>
    val docs = TextDedup.docsWithDups(s, d)
    // cluster map: hash-partitioned content window (b42's shuffle shape)
    val canon = docs.select(col("doc_id"),
      min(col("doc_id")).over(Window.partitionBy(sha2(col("text"), 256)))
        .as("canonical_id"))
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val dl = QueryScope.materialize("dl")(toks.groupBy("doc_id").agg(count(lit(1)).as("dl")))
    val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tf = QueryScope.materialize("tf")(
      toks.join(broadcast(queriesDf(s).select("term").distinct()), "term")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scores = broadcast(queriesDf(s)).join(tf, "term")
      .join(broadcast(dfreq), "term")
      .join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("c", expr(bm25Expr("ln")))
      .groupBy("query_id", "doc_id").agg(sum(col("c")).as("s"))
    val wClust = Window.partitionBy(col("query_id"), col("canonical_id"))
    val best = scores.join(canon, "doc_id")
      .withColumn("n_collapsed", count(lit(1)).over(wClust))
      .withColumn("rm", row_number().over(
        wClust.orderBy(round(col("s"), 4).desc, col("doc_id"))))
      .filter(col("rm") === 1)
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(round(col("s"), 4).desc, col("doc_id"))
    best
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("rn"), col("doc_id"),
        round(col("s"), 4).as("bm25"), col("n_collapsed"))
      .orderBy("query_id", "rn")
  }

  /** B156 Dirichlet prior — sized to this corpus's ~55-token docs (the
    * classic 2000 is tuned for ~500-token news; μ ≈ avgdl is the usual
    * rule of thumb). A literal so both engines fold the same constant. */
  private val Mu = 50.0

  /** QL-Dirichlet score, decomposed for SPARSE evaluation (Zhai &
    * Lafferty, SIGIR'01 §2.2): the exact score
    *   Σ_{t∈q} ln((tf + μ·p(t|C)) / (dl + μ))
    * splits into a per-(doc,term) MATCH part ln(1 + tf·tc/(μ·cf)) that is
    * nonzero only where postings exist, a doc-level part |q|·ln(μ/(dl+μ)),
    * and a query constant Σ_t ln(cf/tc) — so query cost is O(postings of
    * query terms), never O(corpus·|q|), yet the reported value is the
    * full QL log-likelihood, not a rank-equivalent surrogate. Written
    * ONCE as SQL text so Spark and DuckDB evaluate the identical float
    * expression tree. */
  private def qlMatchExpr(ln: String): String =
    s"$ln(1.0 + (tf * tc) / ($Mu * cf))"
  private def qlDocExpr(ln: String): String =
    s"nq * $ln($Mu / (dl + $Mu)) + qconst"

  /** B156 — QUERY-LIKELIHOOD RETRIEVAL (Dirichlet smoothing): the
    * language-modeling counterpart to B107's BM25 over the same query
    * workload — the second classic probabilistic ranking family a
    * retrieval stack ships. Candidates are docs matching ≥1 query term
    * (the b107 rule); zero-match docs are not ranked. Query terms absent
    * from the corpus (cf=0) are dropped in both engines (their smoothed
    * probability is undefined without a vocabulary prior).
    *
    * Scale posture mirrors b107: one corpus token pass builds dl + the
    * query-term tf/cf aggregates (map-side partials; qt is a broadcast),
    * the scoring join touches only matching postings, and the top-10
    * window partitions by query. */
  private val b156 = entry(
    "b156_ql_dirichlet",
    s"""WITH q AS (SELECT * FROM (VALUES ${duckQueryValues()}) AS v(query_id, term)),
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT CAST(sum(dl) AS BIGINT) AS tc FROM dl),
       |qt AS (SELECT DISTINCT term FROM q),
       |cf AS (SELECT term, count(*) AS cf
       |       FROM toks JOIN qt USING (term) GROUP BY term),
       |qmeta AS (
       |  SELECT query_id, count(*) AS nq,
       |         sum(ln(CAST(cf AS DOUBLE) / tc)) AS qconst
       |  FROM q JOIN cf USING (term) CROSS JOIN stats
       |  GROUP BY query_id),
       |tf AS (SELECT doc_id, term, count(*) AS tf
       |       FROM toks JOIN qt USING (term) GROUP BY doc_id, term),
       |mpart AS (
       |  SELECT q.query_id, tf.doc_id, sum(${qlMatchExpr("ln")}) AS m
       |  FROM q JOIN tf USING (term) JOIN cf USING (term) CROSS JOIN stats
       |  GROUP BY q.query_id, tf.doc_id),
       |score AS (
       |  SELECT mp.query_id, mp.doc_id, mp.m + ${qlDocExpr("ln")} AS s
       |  FROM mpart mp JOIN dl ON dl.doc_id = mp.doc_id
       |  JOIN qmeta ON qmeta.query_id = mp.query_id)
       |SELECT CAST(query_id AS BIGINT) AS query_id, rn, doc_id, ql FROM (
       |  SELECT query_id, doc_id, round(s, 4) AS ql,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY round(s, 4) DESC, doc_id) AS INTEGER) AS rn
       |  FROM score) t
       |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin, bench = true) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val qt = queriesDf(s).select("term").distinct()
    // feeds stats + the doc-level score part
    val dl = QueryScope.materialize("dl")(toks.groupBy("doc_id").agg(count(lit(1)).as("dl")))
    val stats = dl.agg(sum(col("dl")).cast("long").as("tc"))
    val cf = toks.join(broadcast(qt), "term")
      .groupBy("term").agg(count(lit(1)).as("cf"))
    val qmeta = broadcast(queriesDf(s)).join(broadcast(cf), "term")
      .crossJoin(broadcast(stats))
      .groupBy("query_id")
      .agg(count(lit(1)).as("nq"),
        sum(expr("ln(CAST(cf AS DOUBLE) / tc)")).as("qconst"))
    val tf = toks.join(broadcast(qt), "term")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val mpart = broadcast(queriesDf(s)).join(tf, "term")
      .join(broadcast(cf), "term").crossJoin(broadcast(stats))
      .withColumn("c", expr(qlMatchExpr("ln")))
      .groupBy("query_id", "doc_id").agg(sum(col("c")).as("m"))
    val scores = mpart.join(dl, "doc_id").join(broadcast(qmeta), "query_id")
      .withColumn("s", col("m") + expr(qlDocExpr("ln")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("s"), 4).desc, col("doc_id"))
    scores
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("rn"), col("doc_id"),
        round(col("s"), 4).as("ql"))
      .orderBy("query_id", "rn")
  }

  /** B188 — RETRIEVAL EVALUATION HARNESS (the TREC-style scorecard —
    * recall@10 and MRR, Voorhees '99 — every retrieval change ships
    * behind): metrics need RELEVANCE JUDGMENTS, and the corpus has no
    * human qrels, so relevance is the deterministic BOOLEAN-AND rule —
    * a doc is relevant to query q iff it contains EVERY term of q (the
    * classic pseudo-qrel; both engines compute it independently, so the
    * judgments themselves are inside the gate). Per query over b107's
    * top-10: the corpus-wide relevant count, hits@10, recall@10 in
    * integer basis points, and MRR as ⌊10⁶/first-relevant-rank⌋ micro
    * units (0 when the page has no relevant doc) — no floats anywhere.
    *
    * Hash-green pins the full eval loop: qrel derivation, the join of
    * judgments against the ranking, and both metric formulas. Scale
    * posture: qrels are one distinct-(doc, term) pass joined to the
    * broadcast query terms (map-combinable per-(q, doc) term counting);
    * the metric tail touches |queries|·10 page rows plus a |queries|-row
    * relevant-count aggregate — scorecard-sized output. */
  private val b188 = entry(
    "b188_retrieval_eval", {
      val ranked = bm25OracleSql()
      s"""WITH ranked AS ($ranked),
         |qv(query_id, term) AS (VALUES ${duckQueryValues()}),
         |nq AS (SELECT query_id, count(DISTINCT term) AS nt FROM qv GROUP BY query_id),
         |dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM documents),
         |rel AS (
         |  SELECT v.query_id, d.doc_id
         |  FROM dt d JOIN qv v USING (term)
         |  GROUP BY v.query_id, d.doc_id
         |  HAVING count(DISTINCT d.term) = (SELECT nt FROM nq WHERE nq.query_id = v.query_id)),
         |nrel AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY query_id),
         |page AS (
         |  SELECT r.query_id,
         |         count(*) AS hits10,
         |         min(r.rn) AS first_rn
         |  FROM ranked r JOIN rel ON rel.query_id = r.query_id
         |                        AND rel.doc_id = r.doc_id
         |  GROUP BY r.query_id)
         |SELECT n.query_id,
         |       CAST(n.n_rel AS BIGINT) AS n_rel,
         |       CAST(coalesce(p.hits10, 0) AS BIGINT) AS hits10,
         |       CAST(coalesce(p.hits10, 0) * 10000 // n.n_rel AS BIGINT)
         |         AS recall_bp,
         |       CAST(coalesce(1000000 // p.first_rn, 0) AS BIGINT) AS mrr_micro
         |FROM nrel n LEFT JOIN page p ON p.query_id = n.query_id
         |ORDER BY n.query_id""".stripMargin
    }) { (s, d) =>
    import s.implicits._
    val ranked = bm25TopDocsScan(s, d)
    val qv = queriesDf(s)
    val nq = QueryTerms.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.size.toLong).toSeq
      .toDF("query_id", "nt")
    val dt = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
    val rel = dt.join(broadcast(qv), "term")
      .groupBy("query_id", "doc_id")
      .agg(countDistinct(col("term")).as("got"))
      .join(broadcast(nq), "query_id")
      .filter(col("got") === col("nt"))
      .select("query_id", "doc_id")
    val nrel = rel.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    val page = ranked.join(rel, Seq("query_id", "doc_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("hits10"), min(col("rn")).as("first_rn"))
    nrel.join(page, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("hits10"), lit(0L)).as("hits10"),
        expr("CAST(coalesce(hits10, 0) * 10000 div n_rel AS BIGINT)")
          .as("recall_bp"),
        coalesce(expr("1000000 div first_rn").cast("long"), lit(0L))
          .as("mrr_micro"))
      .orderBy("query_id")
  }

  /** The proximity workload: two-term queries (query_id, a, b). Query 4
    * pairs the rare terms (18 co-occurring docs, min gap 3 at sf0.001):
    * queries 1-3's top-K saturates at adjacency (gap 1 everywhere — a
    * constant boost), so the rare pair is what keeps the ranked output's
    * gap spread observable (the make-it-bite rule). */
  private[graft] val ProximityPairs: Seq[(Long, String, String)] = Seq(
    (1L, "spark", "join"), (2L, "window", "stream"), (3L, "fast", "scan"),
    (4L, "dup", "merge"))

  /** Top-K depth for the proximity ranking. */
  val ProxK = 10L

  /** B275 — PROXIMITY RANKING (the positional min-distance statistic
    * behind proximity boosts — Büttcher/Clarke/Lucene's sloppy phrase:
    * where B184's phrase search demands ADJACENCY, proximity scores HOW
    * CLOSE two query terms get): per (two-term query, doc containing
    * both), the minimum token distance between any occurrence of a and
    * any occurrence of b, the integer boost 10⁴ div (1 + gap), and the
    * per-query top-[[ProxK]] by (gap asc, doc_id).
    *
    * The engine spelling is the SORTED-MERGE identity: the closest
    * (a, b) pair across two position lists is ADJACENT in their merged
    * order, so one (query, doc)-partitioned window with lag(pos)/
    * lag(side) and a side-change filter finds the min gap in
    * O(n log n) per doc — the oracle keeps the naive |A|×|B| positions
    * join as the independent quadratic spelling, which is exactly the
    * asymmetry a t2 hash is for.
    *
    * Scale posture: positions explode map-side and immediately semi-join
    * the broadcast query terms (two equi-joins, one per side — NOT one
    * OR-condition nested-loop join); the merge window partitions by
    * (query, doc); the rank window partitions by query over the
    * both-term docs only (the b169 shape). */
  /** B275's oracle — shared VERBATIM by B278's index-served twin (the
    * b111 convention: scan spelling and serve spelling must agree). */
  private[graft] val proximityOracleSql: String = {
      val vals = ProximityPairs
        .map { case (q, a, b) => s"($q, '$a', '$b')" }.mkString(", ")
      s"""WITH q AS (SELECT * FROM (VALUES $vals) AS v(query_id, term_a, term_b)),
         |toks AS (
         |  SELECT doc_id, u['pos'] AS pos, u['term'] AS term FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
         |      i -> {'pos': i, 'term': w[i]})) AS u
         |    FROM (SELECT doc_id, string_split(text, ' ') AS w
         |          FROM documents) t)),
         |pa AS (SELECT q.query_id, t.doc_id, t.pos
         |       FROM q JOIN toks t ON t.term = q.term_a),
         |pb AS (SELECT q.query_id, t.doc_id, t.pos
         |       FROM q JOIN toks t ON t.term = q.term_b),
         |gaps AS (
         |  SELECT a.query_id, a.doc_id,
         |         CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS min_gap
         |  FROM pa a JOIN pb b
         |    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, doc_id, min_gap,
         |         CAST(10000 // (1 + min_gap) AS BIGINT) AS prox_bp,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY min_gap, doc_id) AS rnk
         |  FROM gaps)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rank, doc_id, min_gap,
         |       prox_bp
         |FROM ranked WHERE rnk <= $ProxK
         |ORDER BY query_id, rank""".stripMargin
  }

  /** The proximity merge-window + rank tail over a tagged position
    * relation (query_id, doc_id, pos, side) — shared by B275 (scan
    * path) and B278 (index-served path), so the two spellings cannot
    * drift. */
  private def proximityRank(merged: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"), col("doc_id"))
      .orderBy(col("pos"))
    val gaps = merged
      .withColumn("prev_pos", lag(col("pos"), 1).over(w))
      .withColumn("prev_side", lag(col("side"), 1).over(w))
      .filter(col("prev_side").isNotNull && col("side") =!= col("prev_side"))
      .groupBy("query_id", "doc_id")
      .agg(min(col("pos") - col("prev_pos")).cast("long").as("min_gap"))
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("min_gap"), col("doc_id"))
    gaps
      .withColumn("prox_bp", expr("CAST(10000 div (1 + min_gap) AS BIGINT)"))
      .withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= ProxK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("min_gap"),
        col("prox_bp"))
      .orderBy("query_id", "rank")
  }

  private val b275 = entry(
    "b275_proximity_rank", proximityOracleSql, bench = true) { (s, d) =>
    import s.implicits._
    val pairs = ProximityPairs.toDF("query_id", "term_a", "term_b")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("term"))
    def side(joinTerm: String, tag: Int) = toks
      .join(broadcast(pairs), col("term") === col(joinTerm))
      .select(col("query_id"), col("doc_id"), col("pos"),
        lit(tag).as("side"))
    proximityRank(side("term_a", 0).unionByName(side("term_b", 1)))
  }

  /** B278 — PROXIMITY SERVED FROM THE WRITTEN POSITIONAL INDEX: B275's
    * ranking answered the way a search system answers it — from the
    * B108 blocked index's PACKED postings (doc_id·4096 + pos + 1), not a
    * corpus scan. The probe read is term-pruned at the parquet scan
    * (range-clustered sorted layout, the b108b posture); postings
    * explode back to (doc, 1-based pos) by the packing's own quotient/
    * remainder (positions are capped at [[MaxPos]] so the decode is
    * exact), and the SHARED merge-window tail ranks — b275's oracle
    * VERBATIM, so hash-green proves the write → prune → decode → merge
    * path loses nothing vs the scan spelling.
    *
    * Scale posture: the serve touches only the query terms' block rows
    * (term-pruned probe, the b111 argument); decode is map-side; the
    * merge/rank windows inherit B275's bounds. */
  private val b278 = entry(
    "b278_proximity_from_index", proximityOracleSql) { (s, d) =>
    import s.implicits._
    val index = WorkDirs("b278_index") + "/index"
    invertedIndexBlocked(Tables.documents(s, d).select("doc_id", "text"))
      .repartitionByRange(8, col("term"))
      .sortWithinPartitions("term", "block_no")
      .write.mode("overwrite").parquet(index)
    val pairs = ProximityPairs.toDF("query_id", "term_a", "term_b")
    val postings = s.read.parquet(index)
      .filter(col("term").isin(
        ProximityPairs.flatMap(p => Seq(p._2, p._3)).distinct: _*))
      .select(col("term"),
        explode(col("postings")).as("packed"))
      .select(col("term"),
        expr(s"packed div $PosBits").as("doc_id"),
        expr(s"packed % $PosBits").as("pos"))
    def side(joinTerm: String, tag: Int) = postings
      .join(broadcast(pairs), col("term") === col(joinTerm))
      .select(col("query_id"), col("doc_id"), col("pos"),
        lit(tag).as("side"))
    proximityRank(side("term_a", 0).unionByName(side("term_b", 1)))
  }

  val entries: Seq[Entry] =
    Seq(b107, b108, b108b, b109, b111, b113, b114, b115, b116, b156, b188,
      b275, b278)
}

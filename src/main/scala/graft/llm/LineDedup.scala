package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.WorkDirs
import graft.sources.Tables

/** B170 — CCNet-STYLE LINE-LEVEL DEDUP / BOILERPLATE REMOVAL (Wenzek et
  * al., LREC'20 — the per-line hash pass every web-corpus pipeline runs
  * FIRST, before any document-level dedup; VERDICT r13 what's-missing #1):
  * strip every LINE that occurs in more than [[MinDocs]] distinct
  * documents — headers, navigation, cookie banners, footers — and
  * reassemble each document from its surviving lines in order. Document
  * dedup (b42/b43/b90) never sees these: the documents differ, the
  * boilerplate lines repeat.
  *
  * The corpus here is the driver testdata lifted to LINED form (the
  * synthetic documents have no newlines — the b85 note): words chunk
  * into fixed-width pseudo-lines of [[LineWords]] words, then PLANTED
  * boilerplate is injected deterministically — a cookie-banner header on
  * every doc_id % 3 = 0 and a newsletter footer on every doc_id % 2 = 0
  * — so the pass has real work whose removal the spec observes. The
  * construction is integer/string-exact and replayed verbatim by the
  * DuckDB oracle; the operator proper ([[removeFrequentLines]]) takes
  * ANY (doc_id, text-with-newlines) corpus.
  *
  * CCNet semantics pinned here: a line is boilerplate by its
  * distinct-DOCUMENT count (not occurrence count — a doc repeating its
  * own line keeps it), the threshold is strict (`count > MinDocs - 1` ⇔
  * `count ≥ MinDocs` removed), every copy of a boilerplate line is
  * removed (CCNet's shard-hash pass keeps no canonical copy — unlike
  * b93's keep-first span rule), and a fully-boilerplate document keeps
  * its row with empty clean_text (the b93 convention).
  *
  * Scale posture (100 TB): the only corpus-wide state is the per-line
  * document-count relation — a (line, doc_id) distinct + count, both
  * map-side combinable, shuffled on the line key (at scale the key drops
  * to xxhash64(line) via `hashedLineKey` — the b93/MinHashLsh 8-byte
  * rule, strings never cross the wire; equality of the two paths is
  * pinned in LineDedupSpec). Removal and reassembly are per-document
  * (explode → count join → filter → sorted collect), no cross-doc state;
  * no windows, no driver traffic. */
object LineDedup {

  /** Pseudo-line width (words) for lifting the newline-free testdata. */
  val LineWords = 8

  /** A line in ≥ MinDocs distinct docs is boilerplate. */
  val MinDocs = 10L

  val Header = "accept all cookies to continue reading this site"
  val Footer = "subscribe to our newsletter for daily updates"

  /** The testdata lifted to lined form with planted boilerplate —
    * shared by the entry and (replayed in SQL) the oracle. */
  private[graft] def linedCorpus(docs: DataFrame): DataFrame =
    docs.withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), concat(
        when(col("doc_id") % 3 === 0, lit(Header + "\n")).otherwise(lit("")),
        array_join(expr(
          s"""transform(sequence(0, (size(w) + ${LineWords - 1}) div $LineWords - 1),
             |          i -> array_join(slice(w, i * $LineWords + 1, $LineWords), ' '))""".stripMargin),
          "\n"),
        when(col("doc_id") % 2 === 0, lit("\n" + Footer)).otherwise(lit("")))
        .as("text"))

  /** Remove every line occurring in ≥ `minDocs` distinct documents from a
    * (doc_id, text) corpus whose text is newline-delimited. Output one row
    * per input doc: (doc_id, n_lines, n_removed, clean_text).
    *
    * `hashedLineKey` is the 100 TB path: the corpus-wide shuffle key
    * becomes xxhash64(line) — 8 bytes instead of the line string — at the
    * documented 2^-64-per-pair collision cost (two distinct lines merging
    * would over-count one of them). The gate entry keeps strings so the
    * oracle compares exactly; path equality is pinned in LineDedupSpec. */
  def removeFrequentLines(docs: DataFrame, minDocs: Long = MinDocs,
      hashedLineKey: Boolean = false): DataFrame = {
    val keyed = keyedLines(docs, hashedLineKey)
    withBase(docs,
      rebuildKept(keyed, lineDocCounts(keyed), minDocs))
  }

  /** (doc_id, line_no, line, lk) — one row per line of every document.
    * `lk` is the shuffle key: the line string on the gate path, its
    * xxhash64 on the 100 TB path (8 bytes over the wire, 2^-64 collision
    * risk documented on [[removeFrequentLines]]). */
  private[graft] def keyedLines(docs: DataFrame,
      hashedLineKey: Boolean): DataFrame = {
    val lines = docs
      .select(col("doc_id"), posexplode_outer(split(col("text"), "\n")))
      .select(col("doc_id"), col("pos").as("line_no"), col("col").as("line"))
    if (hashedLineKey) lines.withColumn("lk", xxhash64(col("line")))
    else lines.withColumn("lk", col("line"))
  }

  /** CCNet pass 1 — the per-line distinct-DOCUMENT count relation
    * (lk, nd): distinct-(line, doc) then count — two map-side-combinable
    * stages keyed on the line, never a count(DISTINCT) expand over hot
    * lines. This is the only corpus-wide state the pass carries. */
  private[graft] def lineDocCounts(keyed: DataFrame): DataFrame =
    keyed.select(col("lk"), col("doc_id")).distinct()
      .groupBy("lk").agg(count(lit(1)).as("nd"))

  /** CCNet pass 2 — drop lines whose count reaches `minDocs`, reassemble
    * each document from surviving lines in order. Per-document work: one
    * count-relation join plus one doc-keyed aggregate. */
  private[graft] def rebuildKept(keyed: DataFrame, counts: DataFrame,
      minDocs: Long): DataFrame =
    keyed.join(counts, "lk").filter(col("nd") < minDocs)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(line_no, line))), e -> e.line)"),
          "\n").as("clean_text"))

  /** Rejoin to the full document list so fully-boilerplate docs keep
    * their row with empty clean_text (the b93 convention). */
  private[graft] def withBase(docs: DataFrame, rebuilt: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")

  /** Shared by b170 (batch) and b176 (streaming twin) — one oracle, two
    * execution modes (the b92/b96 pattern). */
  private val lineDedupOracleSql =
    s"""WITH dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |lined AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 3 = 0 THEN '$Header' || chr(10) ELSE '' END ||
       |         array_to_string(list_transform(
       |           generate_series(0, (len(w) + ${LineWords - 1}) // $LineWords - 1),
       |           i -> array_to_string(w[i * $LineWords + 1 : i * $LineWords + $LineWords], ' ')),
       |           chr(10)) ||
       |         CASE WHEN doc_id % 2 = 0 THEN chr(10) || '$Footer' ELSE '' END AS text
       |  FROM dw),
       |lx AS (
       |  SELECT doc_id, u['ln'] AS line_no, u['line'] AS line FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)),
       |      i -> {'ln': i - 1, 'line': ls[i]})) AS u
       |    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined) q)),
       |cnt AS (SELECT line, count(DISTINCT doc_id) AS nd FROM lx GROUP BY line),
       |kept AS (
       |  SELECT l.doc_id, l.line_no, l.line
       |  FROM lx l JOIN cnt c USING (line) WHERE c.nd < $MinDocs),
       |rebuilt AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |         string_agg(line, chr(10) ORDER BY line_no) AS clean_text
       |  FROM kept GROUP BY doc_id),
       |base AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines FROM lined)
       |SELECT b.doc_id, CAST(b.n_lines AS BIGINT) AS n_lines,
       |       CAST(b.n_lines - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
       |       coalesce(r.clean_text, '') AS clean_text
       |FROM base b LEFT JOIN rebuilt r ON b.doc_id = r.doc_id
       |ORDER BY b.doc_id""".stripMargin

  private val b170 = entry("b170_line_dedup", lineDedupOracleSql,
      bench = true) { (s, d) =>
    removeFrequentLines(linedCorpus(
      Tables.documents(s, d).select(col("doc_id"), col("text"))))
  }

  /** B176 — the b170 pass run the way PRODUCTION runs CCNet: two passes.
    * Pass 1 (the per-line distinct-doc count relation) is computed once
    * over the corpus and becomes the STATIC side; pass 2 — removal and
    * ordered reassembly — runs on the INGEST STREAM (the b96
    * one-implementation-two-modes pattern): the lined corpus replays in 6
    * doc_id-ordered chunks through a file source, each streamed line
    * joins the static count relation (stream-static, stateless), and the
    * per-doc reassembly aggregate runs in complete mode — the final table
    * IS the batch report, hash-matched against b170's oracle. A doc never
    * splits across chunks, so chunk boundaries can't split its line set.
    *
    * What this pins: CCNet's pass-2 is execution-mode-invisible — the
    * count relation from yesterday's corpus snapshot cleans today's
    * ingest stream with identical semantics. State note: the reassembly
    * aggregate is keyed state ∝ docs seen — a production stream emits
    * per-doc on watermark close (the b88 timer pattern); the replay is
    * finite by construction. */
  private val b176 = entry("b176_stream_line_dedup",
      lineDedupOracleSql) { (s, d) =>
    import org.apache.spark.sql.types._
    val corpus = linedCorpus(
      Tables.documents(s, d).select(col("doc_id"), col("text")))
    val dir = WorkDirs("b176_lines")
    graft.streaming.StreamingOps.writeChunksDf(corpus, dir, n = 6,
      sortCols = Seq("doc_id"))
    // CCNet pass 1: the count relation, computed batch-side (static)
    val counts = lineDocCounts(keyedLines(corpus, hashedLineKey = false))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = graft.streaming.StreamingOps.readStream(s, dir, schema)
    val rebuilt = graft.streaming.StreamingOps.runToMemory(
      rebuildKept(keyedLines(stream, hashedLineKey = false), counts, MinDocs),
      "b176_replay", "complete")
    withBase(corpus, rebuilt)
  }

  val entries: Seq[Entry] = Seq(b170, b176)
}

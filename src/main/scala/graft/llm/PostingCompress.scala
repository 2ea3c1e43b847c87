package graft.llm

import org.apache.spark.sql.functions._
import graft.Registry._
import graft.sources.Tables

/** B179 — POSTING-LIST COMPRESSION REPORT (delta + varint, IIR §5.3 /
  * Lucene VInt; the codec in [[graft.functions.PostingCodec]]): build
  * the term → sorted-postings relation from the corpus, ENCODE each list
  * through the real codec, DECODE it back, and report per term the
  * document frequency, raw size (8 bytes/id), encoded size, integer
  * compression ratio and the round-trip flag.
  *
  * The b172 two-sided t2 contract: (a) `roundtrip_ok` — Spark runs the
  * real encode→decode chain and compares against the original array;
  * the oracle states the identity law; (b) `enc_bytes` — the oracle
  * predicts the encoded size ANALYTICALLY from the d-gaps
  * (bytes(v) = 1 + [v≥2⁷] + [v≥2¹⁴] + …, the LEB128 law) without
  * running any codec, so an encoder that pads, splits a varint wrong,
  * or breaks gap order fails the hash even where the round-trip
  * happens to survive. `ratio_bp` pins the two sides' division order.
  *
  * Scale posture: one token explode into a map-combinable (term, doc)
  * aggregate (the b108 shape), then the codec runs as per-row map-side
  * scalars over the posting arrays — no extra shuffle. At 100 TB this
  * codec is why the index SHIPS: Zipf means hot terms have dense
  * postings → mostly 1-byte gaps (measured ~5-8× vs raw ids), and the
  * compressed lists are what b113-style block-max serving pages in. */
object PostingCompress {

  private val b179 = entry(
    "b179_posting_compress",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
       |  FROM documents),
       |postings AS (
       |  SELECT term, list(doc_id ORDER BY doc_id) AS ids,
       |         count(*) AS df
       |  FROM tok GROUP BY term),
       |gaps AS (
       |  SELECT term, unnest(list_transform(generate_series(1, len(ids)),
       |    i -> CASE WHEN i = 1 THEN ids[1] ELSE ids[i] - ids[i-1] END)) AS g
       |  FROM postings),
       |enc AS (
       |  SELECT term,
       |         CAST(sum(1 + (g >= 128)::INT + (g >= 16384)::INT
       |                    + (g >= 2097152)::INT + (g >= 268435456)::INT
       |                    + (g >= 34359738368)::INT
       |                    + (g >= 4398046511104)::INT
       |                    + (g >= 562949953421312)::INT
       |                    + (g >= 72057594037927936)::INT) AS BIGINT)
       |           AS enc_bytes
       |  FROM gaps GROUP BY term)
       |SELECT p.term, CAST(p.df AS BIGINT) AS df,
       |       CAST(8 * p.df AS BIGINT) AS raw_bytes,
       |       e.enc_bytes,
       |       CAST(e.enc_bytes * 10000 // (8 * p.df) AS BIGINT) AS ratio_bp,
       |       CAST(1 AS BIGINT) AS roundtrip_ok
       |FROM postings p JOIN enc e USING (term)
       |ORDER BY p.term""".stripMargin, bench = true) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
    toks.groupBy("term")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"),
        count(lit(1)).cast("long").as("df"))
      .withColumn("enc", expr("encode_postings(ids)"))
      .select(col("term"), col("df"),
        (lit(8L) * col("df")).as("raw_bytes"),
        expr("CAST(octet_length(enc) AS BIGINT)").as("enc_bytes"),
        expr("CAST(octet_length(enc) * 10000L div (8 * df) AS BIGINT)")
          .as("ratio_bp"),
        (expr("decode_postings(enc)") === col("ids")).cast("long")
          .as("roundtrip_ok"))
      .orderBy("term")
  }

  val entries: Seq[Entry] = Seq(b179)
}

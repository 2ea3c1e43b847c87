package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{CorpusBudget, SequencePack}
import graft.sources.Tables

/** B131/B132: the capstone manifest's structural invariants (coverage,
  * fill, membership) and the shuffle's permutation properties — the
  * checks the composed t2 hash implies but does not state. */
class ModelReadySpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sf = TestSession.sf0001

  test("B131: manifest covers exactly the budget-kept, BPE-nonempty docs — " +
    "contiguously, with full sequences except the last") {
    val docs = Tables.documents(spark, sf)
    val manifest = SparkEntry.queries("b131_model_ready_pipeline")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // membership: kept ∩ {bpe-nonempty} — recomputed from the stage APIs
    val kept = CorpusBudget.budgetManifest(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val nonEmpty = docs
      .select(col("doc_id"), expr("bpe_encode(text)").as("ids"))
      .filter(col("ids") =!= "").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(manifest.map(_._2).toSet === (kept intersect nonEmpty))
    assert((kept -- nonEmpty).nonEmpty || (nonEmpty -- kept).nonEmpty,
      "stages must each bind — identical sets would leave a stage unexercised")
    // per-doc slices contiguous from 0 and summing to the doc's token count
    val toks = docs
      .select(col("doc_id"), expr(
        "CASE WHEN bpe_encode(text) = '' THEN 0 " +
          "ELSE size(split(bpe_encode(text), ' ')) END").cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, slices) <- manifest.groupBy(_._2)) {
      val sorted = slices.sortBy(_._3)
      assert(sorted.head._3 === 0L, s"doc $id first slice offset")
      for (Array(a, b) <- sorted.sliding(2).map(_.toArray) if sorted.length > 1)
        assert(a._3 + a._4 === b._3, s"doc $id slices not contiguous")
      assert(sorted.map(_._4).sum === toks(id), s"doc $id not fully covered")
    }
    // every sequence except the last holds exactly SeqLen tokens
    val bySeq = manifest.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val lastSeq = bySeq.keys.max
    for ((seq, tot) <- bySeq if seq != lastSeq)
      assert(tot === SequencePack.SeqLen.toLong, s"seq $seq holds $tot")
  }

  test("B132: the shard assignment is a permutation — every doc exactly " +
    "once, positions dense per shard, shards balanced") {
    val rows = SparkEntry.queries("b132_training_shuffle")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = Tables.documents(spark, sf).count()
    assert(rows.length.toLong === n)
    assert(rows.map(_._3).distinct.length.toLong === n, "doc lost or duplicated")
    for ((shard, srows) <- rows.groupBy(_._1))
      assert(srows.map(_._2).sorted.toSeq === (1L to srows.length).toSeq,
        s"shard $shard positions not dense")
    // balance: with 500 docs over 64 shards no shard should be empty-heavy
    val sizes = rows.groupBy(_._1).values.map(_.length)
    assert(sizes.max <= 3 * (n / 64 + 1),
      s"shard skew: max ${sizes.max} for n=$n")
  }
}

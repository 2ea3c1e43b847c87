package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{SetSimJoin, VideoNearDup => VN, Winnowing}

/** B293 pins: the clip's fingerprint set is a SUBSET of its source's by
  * construction (JVM replay of the frame model), every eligible clip is
  * recovered at containment 10⁴, the prefix-filtered join equals the
  * brute-force referee on the fingerprint arrays, and the cut constant
  * respects the stride alignment the subset property needs. */
class VideoNearDupSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sf = TestSession.sf0001

  test("cut point is a stride multiple (the subset-by-construction " +
    "precondition)") {
    assert(VN.ClipCutFrames % 30 == 0)
    assert(VN.MinClipFrames > VN.ClipCutFrames + 30,
      "eligible clips must keep >= 2 sampled frames")
  }

  test("JVM replay: clip fps are exactly the source fps minus the " +
    "pre-cut samples, for every eligible fixture video") {
    val vids = graft.sources.Tables.documents(spark, sf)
      .filter("doc_id % 3 = 2").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def fps(h: Long, cut: Long): Seq[Long] = {
      val frames = (h % 300) + 1
      (0L to (frames - cut - 1) by 30L)
        .map(g => Winnowing.polyFoldString(s"vf:$h:${g + cut}"))
    }
    val eligible = vids.filter { case (id, text) =>
      id % VN.VClipMod == 0 &&
        (Winnowing.polyFoldString(text) % 300) + 1 >= VN.MinClipFrames
    }
    assert(eligible.nonEmpty, "fixture has no eligible clip source")
    for ((id, text) <- eligible) {
      val h = Winnowing.polyFoldString(text)
      val src = fps(h, 0L)
      val clip = fps(h, VN.ClipCutFrames)
      assert(clip.nonEmpty && clip.toSet.subsetOf(src.toSet), s"vid $id")
      assert(clip.size == src.size - VN.ClipCutFrames / 30, s"vid $id")
    }
  }

  test("end-to-end: every eligible clip comes back contained at 10^4") {
    val out = SparkEntry.queries("b293_video_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    val eligible = graft.sources.Tables.documents(spark, sf)
      .filter("doc_id % 3 = 2").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, text) =>
        id % VN.VClipMod == 0 &&
          (Winnowing.polyFoldString(text) % 300) + 1 >= VN.MinClipFrames
      }.map(_._1).toSet
    val planted = out.filter(_._4 == 1L)
    assert(planted.map(_._2).toSet == eligible, "a clip escaped the join")
    assert(planted.forall(p => p._3 == 10000L),
      "an aligned clip must be contained EXACTLY")
  }

  test("prefix-filtered containment == brute force on the fingerprint " +
    "arrays (the element-type-agnostic lemma)") {
    // drive the same arrs relation through both spellings
    val q = SparkEntry.queries("b293_video_neardup")(spark, sf)
    val viaPrefix = q.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // rebuild arrs exactly as the entry does
    import org.apache.spark.sql.functions._
    val vids = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("vid"),
        expr(Winnowing.polyFoldSpark("text")).as("h"))
    val legs = vids.select(col("vid"), col("h"), lit(0L).as("cut"))
      .unionByName(vids.filter(col("vid") % VN.VClipMod === 0
          && expr(s"(h % 300) + 1 >= ${VN.MinClipFrames}"))
        .select((col("vid") + VN.VClipIdOffset).as("vid"), col("h"),
          lit(VN.ClipCutFrames).as("cut")))
    val arrs = legs.select(col("vid").as("doc_id"),
      expr("transform(sequence(CAST(0 AS BIGINT)," +
        " greatest((h % 300) + 1 - cut - 1, CAST(0 AS BIGINT))," +
        " CAST(30 AS BIGINT))," +
        " g -> poly_fold(concat('vf:', CAST(h AS STRING), ':'," +
        " CAST(g + cut AS STRING))))").as("sh_arr"))
    val brute = SetSimJoin.containmentBruteForceArr(arrs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaPrefix == brute)
  }
}

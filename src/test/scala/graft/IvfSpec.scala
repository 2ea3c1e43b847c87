package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Ivf
import graft.sources.Tables

class IvfSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sf = TestSession.sf0001

  test("IVF assignments cover every vector exactly once") {
    val e = Tables.embeddings(spark, sf)
    val assigned = Ivf.assignments(e, Ivf.defaultNumCells(e.count()))
    assert(assigned.count() === e.count())
    assert(assigned.select("vec_id").distinct().count() === e.count())
  }

  test("centroid cardinality is fixed-k, not linear in the corpus") {
    val e = Tables.embeddings(spark, sf)
    val n = e.count()
    val k = Ivf.defaultNumCells(n)
    assert(k <= 4096 && k <= math.ceil(math.sqrt(n.toDouble)).toInt)
    assert(Ivf.centroids(e, k).count() === k.toLong)
    // determinism: same k → identical cell set on a re-run
    val cells1 = Ivf.centroids(e, k).select("cell").collect().map(_.getLong(0)).toSet
    val cells2 = Ivf.centroids(e, k).select("cell").collect().map(_.getLong(0)).toSet
    assert(cells1 === cells2)
  }

  test("k-means refinement improves average within-cell cosine (spherical Lloyd)") {
    val e = Tables.embeddings(spark, sf)
    val k = Ivf.defaultNumCells(e.count())
    val vecs = Ivf.asDouble(e)
    def avgCos(cents: org.apache.spark.sql.DataFrame): Double =
      Ivf.assignTo(vecs, cents)
        .join(cents, "cell")
        .agg(avg(expr("dot_f64(v, cv)") / (col("norm") * col("cnorm"))))
        .collect().head.getDouble(0)
    val sample = Ivf.centroids(e, k)
    val refined = Ivf.refineCentroids(e, k, iters = 2)
    assert(refined.count() <= k.toLong && refined.count() > 0)
    // spherical Lloyd is monotone in the average within-cell cosine
    assert(avgCos(refined) >= avgCos(sample) - 1e-9,
      f"refinement regressed the objective: ${avgCos(refined)}%.4f < ${avgCos(sample)}%.4f")
    // the refined index still covers every vector exactly once
    val assigned = Ivf.assignTo(vecs, refined)
    assert(assigned.count() === e.count())
    assert(assigned.select("vec_id").distinct().count() === e.count())
  }

  test("cell-partitioned layout: pruned on-disk search equals in-memory, prunes dirs") {
    val e = Tables.embeddings(spark, sf)
    val k = Ivf.defaultNumCells(e.count())
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_layout").toString
    Ivf.writeCellPartitioned(e, k, dir)
    val fromDisk = Ivf.searchFromLayout(spark, dir,
      e.filter(col("vec_id") < 20), k = 10, nProbe = 5)
    val inMem = Ivf.search(e, col("vec_id") < 20, k = 10, nProbe = 5,
      numCells = Some(k))
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(fromDisk) === rows(inMem),
      "on-disk pruned search diverged from the in-memory index")
    // the cell predicate must land in directory-level PartitionFilters
    val scan = spark.read.parquet(s"$dir/cells").filter(col("cell").isin(1L, 2L))
    val planStr = scan.queryExecution.executedPlan.toString
    val parts = planStr.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
    assert(parts != planStr && parts.contains("cell"),
      s"cell not in PartitionFilters:\n$planStr")
  }

  test("IVF@nProbe=5 recall vs brute-force top-10 is substantial; nProbe=all is exact") {
    val e = Tables.embeddings(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(SparkEntry.queries("b44_similarity_bruteforce")(spark, sf))
    val ivf5 = pairs(Ivf.search(e, col("vec_id") < 20, k = 10, nProbe = 5))
    val recall = (brute intersect ivf5).size.toDouble / brute.size
    assert(recall >= 0.4, f"IVF recall too low: $recall%.3f")
    // probing every cell must reproduce brute force exactly
    val nCells = Ivf.defaultNumCells(e.count())
    val ivfAll = pairs(Ivf.search(e, col("vec_id") < 20, k = 10, nProbe = nCells))
    assert(ivfAll === brute, "IVF with all cells probed must equal brute force")
  }
}

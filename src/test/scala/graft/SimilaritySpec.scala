package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** ANN operator specs: brute force is the ground truth; IVF must agree with
  * it when probing covers the true neighbors' lists.
  */
class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("brute-force top-k: k rows per query, self excluded, rank ordered by cosine") {
    val corpus = Similarity.prepare(emb, "vec_id", "embedding")
    val out = Similarity.bruteForceTopK(corpus, corpus.where(col("vid") < 4), k = 5)
    val rows = out.collect()
    assert(rows.length === 4 * 5)
    assert(!rows.exists(r => r.getLong(0) == r.getLong(1)))
    // per query: ranks 1..5 with non-increasing cosine
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq === (1 to 5))
      assert(sorted.sliding(2).forall(p => p.head.getDouble(3) >= p.last.getDouble(3)))
    }
  }

  test("hard negatives: every neighbor has a different label than its query") {
    val lab = emb.select(col("vec_id").as("vid"), col("label"))
    val corpus = Similarity.prepare(emb, "vec_id", "embedding").join(lab, "vid")
    val out = Similarity.hardNegativeTopK(corpus, corpus.where(col("vid") < 4), k = 3)
    val rows = out.collect()
    assert(rows.length === 4 * 3)
    val labels = lab.as[(Long, Int)].collect().toMap
    rows.foreach { r =>
      assert(labels(r.getLong(0)) !== labels(r.getLong(1)),
        s"neighbor ${r.getLong(1)} shares label with query ${r.getLong(0)}")
    }
    // hard negatives are a label-filtered subset: each must score <= the
    // unfiltered best at the same rank
    val brute = Similarity.bruteForceTopK(corpus, corpus.where(col("vid") < 4), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getDouble(3)).toMap
    rows.foreach { r =>
      assert(r.getDouble(3) <= brute((r.getLong(0), r.getInt(2))) + 1e-12)
    }
  }

  test("IVF results are a subset-consistent approximation of brute force") {
    val corpus = Similarity.prepare(emb, "vec_id", "embedding")
    val queries = corpus.where(col("vid") < 4)
    val ivf = Similarity.ivfTopK(corpus, corpus.where(col("vid") < 16), queries, k = 5, nprobe = 2)
    val bf = Similarity.bruteForceTopK(corpus, queries, k = 5)
    val ivfRows = ivf.collect()
    assert(ivfRows.groupBy(_.getLong(0)).forall(_._2.length <= 5))
    // Every IVF hit's cosine can't beat the brute-force rank-1 neighbor.
    val best = bf.where(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ivfRows.forall(r => r.getDouble(3) <= best(r.getLong(0)) + 1e-12))
  }

  test("TopKAggregate UDAF agrees with the window top-k") {
    import graft.functions.TopKAggregate
    val corpus = Similarity.prepare(emb, "vec_id", "embedding")
    val queries = corpus.where(col("vid") < 4)
    val expected = Similarity.bruteForceTopK(corpus, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toList).toMap
    val scored = corpus
      .join(broadcast(queries.select(col("vid").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))),
        col("vid") =!= col("query_id"))
      .select(col("query_id"),
        col("vid").as("nid"),
        (Similarity.dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
    val agg = new TopKAggregate(5).toColumn
    val got = scored.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, nid, cos) => (nid, cos) }
      .agg(agg)
      .collect().toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (q, topk) => assert(topk.toList === expected(q)) }
  }

  test("bucketed near-dup is a subset of exact near-dup") {
    val corpus = Similarity.prepare(emb, "vec_id", "embedding")
    val exact = Similarity.embeddingNearDupPairs(corpus, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val bucketed = Similarity
      .embeddingNearDupPairsBucketed(corpus, corpus.where(col("vid") < 16), 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(exact))
    // Multi-assignment (m=2) can only add recall, never lose it or
    // fabricate pairs.
    val multi = Similarity
      .embeddingNearDupPairsBucketed(corpus, corpus.where(col("vid") < 16), 0.4, m = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(multi) && multi.subsetOf(exact))
  }

  test("assignLists: every vector lands on exactly one list") {
    val corpus = Similarity.prepare(emb, "vec_id", "embedding")
    val assigned = Similarity.assignLists(corpus, corpus.where(col("vid") < 16))
    assert(assigned.count() === corpus.count())
    assert(assigned.groupBy("vid").count().where(col("count") > 1).count() === 0)
    assert(assigned.select("cid").distinct().count() <= 16)
  }

  test("ANN recall floors vs brute force are pinned (IVF, PQ, LSH)") {
    // Everything here is deterministic (md5-derived hashing, fixed corpus,
    // fixed parameters — the same ones the declared queries q51/q62/q66
    // use), so recall is an exact number, not a distribution. These floors
    // are the regression tripwire: a parameter or algorithm change that
    // silently craters recall fails here, not in production. Measured by
    // on sf0.001 (NOTES.md "Round 4: new surfaces"): IVF 37/40, PQ 10/40, LSH 1/40 (LSH at
    // 64 hyperplane bits is the training-free low-recall tier by design —
    // the floor documents that honestly rather than hiding it).
    val corpus = Similarity.prepare(emb, "vec_id", "embedding")
    val q = corpus.where(col("vid") < 8)
    val exact = Similarity.bruteForceTopK(corpus, q, 5).select("query_id", "neighbor_id")
    val nExact = exact.count()
    assert(nExact === 40L)
    def recall(approx: org.apache.spark.sql.DataFrame): Long =
      approx.select("query_id", "neighbor_id").intersect(exact).count()
    val ivf = recall(Similarity.ivfTopK(corpus, corpus.where(col("vid") < 16), q, 5, 2))
    val pq = recall(Similarity.pqTopK(corpus, corpus.where(col("vid") < 16), q, 5, 64))
    val lsh = recall(Similarity.lshTopK(corpus, q, 5, 64))
    assert(ivf >= 37L, s"IVF recall dropped: $ivf/40 (floor 37)")
    assert(pq >= 10L, s"PQ recall dropped: $pq/40 (floor 10)")
    assert(lsh >= 1L, s"LSH recall dropped: $lsh/40 (floor 1)")
  }
}

package graft.queries

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-5 tranche two: dataset governance and graph-structure operators —
  * k-anonymity risk audit, snapshot diffing between corpus versions,
  * bounded-round label-propagation communities over the 3-NN embedding
  * graph (with label purity as the quality readout), degree assortativity
  * of that graph, and seasonal-baseline residual anomalies.
  *
  * Same determinism discipline as [[StatQueries]]: integer ppm, DECIMAL
  * count products, md5-derived hashes, no float aggregation in any hashed
  * column — cosine scores are fixed-order float folds both engines
  * compute bit-identically (q50's contract) and never enter a hashed
  * aggregate.
  */
object Pipeline3Queries {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) = Tables.load(s, d, "documents")
  private def events(s: org.apache.spark.sql.SparkSession, d: String) = Tables.load(s, d, "events")
  private def emb(s: org.apache.spark.sql.SparkSession, d: String) = Tables.load(s, d, "embeddings")

  /** Undirected 3-NN cosine graph over the vec_id < 500 embedding tier,
    * shared by q140/q141 (cached: the module's two graph queries pay the
    * neighbor search once). Brute-force exact here — the declared scale
    * path swaps this stage for q62's LSH candidate generation; the graph
    * algebra downstream is identical either way. That swap is MEASURED in
    * NOTES.md "Round 6: graph-tier scale story, measured": on planted-cluster
    * corpora the LSH graph preserves LPA community purity to within 0.002
    * (σ=0.5) at ~1% of the all-pairs candidate volume; on the driver's
    * isotropic synthetic embeddings no sublinear method can keep recall,
    * which is why the declared query stays on the exact 500-vector tier.
    */
  private def knnEdges(s: org.apache.spark.sql.SparkSession, d: String) = {
    val corpus = graft.operators.Similarity
      .prepare(emb(s, d).where(col("vec_id") < 500), "vec_id", "embedding")
    val knn = graft.operators.Similarity.bruteForceTopK(corpus, corpus, k = 3)
    knn.select(least(col("query_id"), col("neighbor_id")).as("u"),
        greatest(col("query_id"), col("neighbor_id")).as("v"))
      .distinct()
      // lazy localCheckpoint, not cache: the edge table is TINY (≤ k·|V|
      // rows of two longs) but its kNN-graph subtree was re-planned under
      // every consumer — q141 reads it four times (both union branches ×
      // degree/pair sides), the 495-line declared plan of the r18 audit
      .localCheckpoint(false)
  }

  /** 3-round min-label LPA over an undirected edge set `e(u, v)` plus the
    * size-weighted majority-label purity readout — the community machinery
    * shared by q140 (exact 3-NN graph) and q184 (LSH-candidate graph). One
    * definition so the rounds, tie-breaks, and purity arithmetic cannot
    * drift between the two declared variants.
    */
  private def lpaCommunities(s: org.apache.spark.sql.SparkSession, d: String,
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // r18 OPT: localCheckpoint, not cache. cache() stops RE-EXECUTION but
    // the analyzer/optimizer still walks the full accumulated tree every
    // round (the q140 before-plan was 2,847 lines / 263 Exchange nodes of
    // nested InMemoryRelations; q184's was 5,045) — on a 3k-row graph the
    // driver-side planning of that tree WAS the query. localCheckpoint
    // materializes the same rows AND truncates lineage, so each round
    // plans a 3-operator tree over an RDD leaf. Same rows, same rounds,
    // same tie-breaks — the oracle replay is untouched.
    val und = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(false)
    var labels = und.select(col("u").as("w")).distinct()
      .withColumn("lbl", col("w"))
    for (_ <- 1 to 3) {
      val fromNbr = und.join(labels.withColumnRenamed("w", "v")
          .withColumnRenamed("lbl", "vl"), "v")
        .groupBy(col("u").as("w")).agg(min(col("vl")).as("nl"))
      labels = labels.join(fromNbr, Seq("w"), "left_outer")
        .select(col("w"), least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
        .localCheckpoint(false)
    }
    val mem = labels.join(
      emb(s, d).select(col("vec_id").as("w"), col("label")), "w")
    val counts = mem.groupBy(col("lbl"), col("label")).agg(count(lit(1)).as("n"))
    val best = counts.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lbl"))
          .orderBy(col("n").desc, col("label").asc)))
      .where(col("rk") === 1)
      .select(col("lbl"), col("label").as("majority_label"), col("n").as("n_majority"))
    counts.groupBy(col("lbl")).agg(sum(col("n")).as("sz"))
      .join(best, "lbl")
      .select(col("lbl").as("community"), col("sz"), col("majority_label"),
        expr("(n_majority * 1000000) div sz").as("purity_ppm"))
      .orderBy(col("sz").desc, col("community").asc).limit(10)
  }

  /** Oracle tail replaying [[lpaCommunities]], appended after a WITH list
    * that defines `e(u, v)` (and the `embeddings` base table).
    */
  private val LpaOracleTail: String = {
    val rounds = (1 to 3).map { i =>
      s"""n$i AS (SELECT und.u w, min(l${i - 1}.lbl) nl
         FROM und JOIN l${i - 1} ON l${i - 1}.w = und.v GROUP BY 1),
       l$i AS (SELECT l.w, least(l.lbl, coalesce(n.nl, l.lbl)) lbl
               FROM l${i - 1} l LEFT JOIN n$i n USING (w))"""
    }.mkString(",\n        ")
    s"""und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        l0 AS (SELECT DISTINCT u w, u lbl FROM und),
        $rounds,
        mem AS (SELECT l3.w, l3.lbl, emb2.label
                FROM l3 JOIN (SELECT vec_id, label FROM embeddings) emb2
                  ON emb2.vec_id = l3.w),
        cnts AS (SELECT lbl, label, count(*)::BIGINT n FROM mem GROUP BY 1, 2),
        best AS (SELECT lbl, label majority_label, n n_majority FROM (
                   SELECT *, row_number() OVER (PARTITION BY lbl
                     ORDER BY n DESC, label ASC) rk FROM cnts) WHERE rk = 1),
        sz AS (SELECT lbl, sum(n)::BIGINT sz FROM cnts GROUP BY 1)
        SELECT sz.lbl community, sz.sz, best.majority_label,
          CAST(best.n_majority * 1000000 // sz.sz AS BIGINT) purity_ppm
        FROM sz JOIN best USING (lbl)
        ORDER BY sz DESC, community ASC LIMIT 10"""
  }

  /** Oracle CTEs replaying the 3-NN graph: q50's sequential-fold cosine,
    * row_number ranks with (cos DESC, id ASC) ties, undirected dedup.
    */
  private val KnnCte = {
    val dot =
      "list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1), i -> qv[i]*v[i])), (x,y) -> x+y)"
    s"""emb AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 500),
       n AS (SELECT vec_id, v,
               sqrt(list_reduce(list_prepend(0.0, v), (a,b) -> a + b*b)) nrm FROM emb),
       sc AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
                $dot / (q.nrm * n.nrm) cos
              FROM (SELECT vec_id, v qv, nrm FROM n) q
              JOIN n ON n.vec_id <> q.vec_id),
       knn AS (SELECT query_id, neighbor_id FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id ASC) rank FROM sc)
               WHERE rank <= 3),
       e AS (SELECT DISTINCT least(query_id, neighbor_id) u,
                    greatest(query_id, neighbor_id) v FROM knn)"""
  }

  val defs: Seq[QueryDef] = Seq(

    // ── k-anonymity audit over quasi-identifiers (lang, source, 100-char
    //    length bucket): how many documents sit in equivalence classes
    //    smaller than k=5 — the re-identification risk gate a pipeline
    //    runs before releasing a corpus. One hash aggregate to class
    //    sizes (dimension-sized), one more to the per-lang risk panel;
    //    the corpus is scanned once, narrow.
    QueryDef(
      "q138_kanonymity",
      (s, d) => docs(s, d)
        .select(col("lang"), col("source"), expr("n_chars div 100").as("len_bkt"))
        .groupBy(col("lang"), col("source"), col("len_bkt"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("sz") < 5, 1L).otherwise(0L)).as("n_small_classes"),
          sum(col("sz")).as("n_docs"),
          sum(when(col("sz") < 5, col("sz")).otherwise(0L)).as("n_at_risk"))
        .select(col("lang"), col("n_classes"), col("n_small_classes"),
          col("n_docs"), col("n_at_risk"),
          expr("(n_at_risk * 1000000) div n_docs").as("risk_ppm")),
      Some("""WITH c AS (SELECT lang, source, n_chars // 100 len_bkt, count(*)::BIGINT sz
               FROM documents GROUP BY 1, 2, 3)
        SELECT lang, count(*)::BIGINT n_classes,
          sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END)::BIGINT n_small_classes,
          sum(sz)::BIGINT n_docs,
          sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)::BIGINT n_at_risk,
          CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 1000000
               // sum(sz) AS BIGINT) AS risk_ppm
        FROM c GROUP BY lang""")
    ),

    // ── Snapshot diff between two corpus versions — the dataset-versioning
    //    primitive (what changed between crawl N and crawl N+1?). Versions
    //    are carved deterministically from the one test corpus: OLD drops
    //    doc_id ≡ 0 (mod 17), NEW drops ≡ 0 (mod 11) and rewrites text for
    //    ≡ 0 (mod 13). The diff itself is the production shape: ONE full
    //    outer equi-join on doc_id comparing content fingerprints —
    //    never a text comparison, never a shuffle of text bytes twice;
    //    status classification is a null/hash case expression. At 100 TB
    //    both sides partition by doc_id and the join co-locates.
    QueryDef(
      "q139_snapshot_diff",
      (s, d) => {
        val base = docs(s, d)
        val old = base.where(expr("doc_id % 17 != 0"))
          .select(col("doc_id"), col("source"), md5(col("text")).as("h_old"))
        val nw = base.where(expr("doc_id % 11 != 0"))
          .select(col("doc_id"), col("source").as("source_new"),
            md5(when(expr("doc_id % 13 = 0"), concat(col("text"), lit(" rev2")))
              .otherwise(col("text"))).as("h_new"))
        old.join(nw, Seq("doc_id"), "full_outer")
          .select(coalesce(col("source"), col("source_new")).as("source"),
            when(col("h_old").isNull, "added")
              .when(col("h_new").isNull, "removed")
              .when(col("h_old") === col("h_new"), "unchanged")
              .otherwise("changed").as("status"))
          .groupBy(col("source"))
          .agg(sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
            sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
            sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
            sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
      },
      Some("""WITH old AS (SELECT doc_id, source, md5(text) h FROM documents WHERE doc_id % 17 != 0),
        nw AS (SELECT doc_id, source, md5(CASE WHEN doc_id % 13 = 0
                 THEN text || ' rev2' ELSE text END) h
               FROM documents WHERE doc_id % 11 != 0),
        j AS (SELECT coalesce(old.source, nw.source) source,
                CASE WHEN old.h IS NULL THEN 'added'
                     WHEN nw.h IS NULL THEN 'removed'
                     WHEN old.h = nw.h THEN 'unchanged'
                     ELSE 'changed' END status
              FROM old FULL OUTER JOIN nw USING (doc_id))
        SELECT source,
          sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END)::BIGINT n_added,
          sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)::BIGINT n_removed,
          sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)::BIGINT n_changed,
          sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)::BIGINT n_unchanged
        FROM j GROUP BY source""")
    ),

    // ── Label-propagation communities over the 3-NN embedding graph,
    //    scored by purity against the withheld labels — the unsupervised
    //    cluster-discovery op (does vector-space neighborhood structure
    //    recover the taxonomy?). 3 synchronous min-label rounds (labels
    //    init to vec_id); each round is ONE edge⋈label equi-join + min-
    //    aggregate — the Pregel superstep as a Catalyst plan, Tungsten-
    //    codegen'd. Bounded rounds by design: community quality plateaus
    //    in a few supersteps while full convergence (q45's pointer
    //    jumping) takes the graph diameter. Purity: per community, the
    //    majority true label's share in ppm, majority by (count DESC,
    //    label ASC) so ties never diverge.
    QueryDef(
      "q140_communities",
      (s, d) => lpaCommunities(s, d, knnEdges(s, d)),
      Some(s"""WITH $KnnCte,
        $LpaOracleTail""")
    ),

    // ── Degree assortativity of the 3-NN graph: do hub vectors neighbor
    //    hubs (r > 0) or leaves (r < 0)? kNN graphs are classically
    //    disassortative — a negative sign here is structure, not noise.
    //    q114's cross-engine correlation contract — every moment an exact
    //    DECIMAL(38,0) integer sum over symmetrized (deg_u, deg_v) edge
    //    endpoints, result as sign + r² ppm, no sqrt crossing engines.
    //    Degrees are one aggregate; attaching them to edges is two
    //    broadcast-able equi-joins (the degree table ≪ edges).
    QueryDef(
      "q141_degree_assortativity",
      (s, d) => {
        val dec = DecimalType(38, 0)
        val e = knnEdges(s, d)
        val und = e.select(col("u"), col("v"))
          .union(e.select(col("v").as("u"), col("u").as("v")))
        val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        val pairs = und
          .join(deg.toDF("u", "du"), "u")
          .join(deg.toDF("v", "dv"), "v")
          .select(col("du").cast(dec).as("x"), col("dv").cast(dec).as("y"))
        pairs.agg(count(lit(1)).cast(dec).as("n"),
            sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
            sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"),
            sum(col("x") * col("y")).as("sxy"))
          .select(col("n").cast(LongType).as("n_endpoints"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
            (col("n") * col("sxx") - col("sx") * col("sx")).as("den_x"),
            (col("n") * col("syy") - col("sy") * col("sy")).as("den_y"))
          .select(col("n_endpoints"),
            signum(col("num")).cast(IntegerType).as("r_sign"),
            when(col("den_x") === 0 || col("den_y") === 0, lit(null))
              .otherwise(expr("(num * num * 1000000) div (den_x * den_y)"))
              .cast(LongType).as("r2_ppm"))
      },
      Some(s"""WITH $KnnCte,
        und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        deg AS (SELECT u, count(*)::BIGINT deg FROM und GROUP BY 1),
        p AS (SELECT du.deg x, dv.deg y FROM und
              JOIN deg du ON du.u = und.u JOIN deg dv ON dv.u = und.v),
        m AS (SELECT count(*)::HUGEINT n, sum(x)::HUGEINT sx, sum(x*x)::HUGEINT sxx,
                sum(y)::HUGEINT sy, sum(y*y)::HUGEINT syy, sum(x*y)::HUGEINT sxy
              FROM p)
        SELECT CAST(n AS BIGINT) n_endpoints,
          CAST(sign(n*sxy - sx*sy) AS INT) r_sign,
          CAST(CASE WHEN (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0 THEN NULL
            ELSE ((n*sxy - sx*sy) * (n*sxy - sx*sy) * 1000000)
                 // ((n*sxx - sx*sx) * (n*syy - sy*sy)) END AS BIGINT) r2_ppm
        FROM m""")
    ),

    // ── Seasonal-baseline residual anomalies: per (event_type, hour-of-
    //    day) integer mean baseline, then the top-15 events by absolute
    //    residual — the "is this value weird FOR 3am?" detector that a
    //    flat threshold can't express. The baseline is a 120-row broadcast
    //    dimension built by one aggregate; residual ranking is a
    //    TakeOrderedAndProject, so nothing corpus-sized ever sorts.
    QueryDef(
      "q142_seasonal_residual",
      (s, d) => {
        val e = events(s, d).select(col("event_id"), col("event_type"),
          hour(col("ts")).as("hr"), round(col("value") * 100).cast(LongType).as("c"))
        val base = e.groupBy(col("event_type"), col("hr"))
          .agg(expr("sum(c) div count(1)").as("baseline_cents"))
        e.join(broadcast(base), Seq("event_type", "hr"))
          .select(col("event_id"), col("event_type"), col("hr").as("hour_of_day"),
            col("c").as("cents"), col("baseline_cents"),
            abs(col("c") - col("baseline_cents")).as("residual_cents"))
          .orderBy(col("residual_cents").desc, col("event_id").asc)
          .limit(15)
      },
      Some("""WITH e AS (SELECT event_id, event_type,
                 CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) hr,
                 CAST(round(value*100) AS BIGINT) c
               FROM events),
        b AS (SELECT event_type, hr, CAST(sum(c) // count(*) AS BIGINT) baseline_cents
              FROM e GROUP BY 1, 2)
        SELECT e.event_id, e.event_type, e.hr AS hour_of_day, e.c AS cents,
          b.baseline_cents, abs(e.c - b.baseline_cents) AS residual_cents
        FROM e JOIN b USING (event_type, hr)
        ORDER BY residual_cents DESC, event_id ASC LIMIT 15""")
    ),

    // ── q140's declared scale path, GREEN: the same 3-round LPA community
    //    readout, but the 3-NN graph comes from LSH banding candidates
    //    (equi-join on (band, key) — never all-pairs) instead of the exact
    //    brute tier. This is the swap NOTES.md "Round 6: graph-tier scale
    //    story, measured" records (purity within 0.002 of exact on clustered corpora at
    //    ~1% candidate volume); declaring it oracle-checked closes the
    //    "asserted, not measured" gap from the r5 verdict. The oracle
    //    inlines the identical ±1 Rademacher plane weights
    //    (md5-derived, `Similarity.lshPlaneWeights`) and replays banding,
    //    cosine rerank, and the LPA rounds bit-for-bit (q62 + q140
    //    machinery composed).
    QueryDef(
      "q184_communities_lsh",
      (s, d) => {
        val corpus = graft.operators.Similarity
          .prepare(emb(s, d).where(col("vec_id") < 500), "vec_id", "embedding")
          .cache()
        val knn = graft.operators.Similarity.lshTopK(corpus, corpus, k = 3, dim = 64)
        val e = knn.select(least(col("query_id"), col("neighbor_id")).as("u"),
            greatest(col("query_id"), col("neighbor_id")).as("v"))
          .distinct()
        lpaCommunities(s, d, e)
      },
      Some {
        def dot(a: String, b: String) =
          s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])), (x,y) -> x+y)"
        val planes = graft.operators.Similarity.lshPlaneWeights(64)
        def wLit(w: Seq[Double]) = w.map(x => if (x > 0) "1.0" else "-1.0").mkString("([", ", ", "])")
        val sigCols = planes.zipWithIndex.map { case (w, p) =>
          s"CASE WHEN ${dot("v", wLit(w))} > 0.0 THEN 1 ELSE 0 END s$p"
        }.mkString(",\n          ")
        def keyExpr(b: Int) =
          (0 until 8).map(j => s"s${b * 8 + j} * ${1L << j}").mkString(" + ")
        s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 500),
        n AS (SELECT vec_id, v,
                sqrt(list_reduce(list_prepend(0.0, v), (a,b) -> a + b*b)) nrm FROM emb),
        sig AS (SELECT vec_id, $sigCols FROM n),
        keys AS (SELECT vec_id, ${keyExpr(0)} k0, ${keyExpr(1)} k1 FROM sig),
        banded AS (SELECT vec_id, 0 band, k0 bkey FROM keys
                   UNION ALL SELECT vec_id, 1, k1 FROM keys),
        cand AS (SELECT DISTINCT qb.vec_id query_id, c.vec_id neighbor_id
                 FROM banded c JOIN banded qb
                   ON c.band = qb.band AND c.bkey = qb.bkey
                  AND c.vec_id <> qb.vec_id),
        sc AS (SELECT cand.query_id, cand.neighbor_id,
                 ${dot("qn.v", "cn.v")} / (qn.nrm * cn.nrm) cos
               FROM cand JOIN n qn ON qn.vec_id = cand.query_id
                         JOIN n cn ON cn.vec_id = cand.neighbor_id),
        knn AS (SELECT query_id, neighbor_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) rank FROM sc)
                WHERE rank <= 3),
        e AS (SELECT DISTINCT least(query_id, neighbor_id) u,
                     greatest(query_id, neighbor_id) v FROM knn),
        $LpaOracleTail"""
      }
    )
  )
}

package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.operators.{Dedup, Similarity}
import graft.oracle.TextOracle

/** Embedding search: exact top-k, LSH, IVF (plain, persisted, sharded,
  * filtered, PQ), HNSW and embedding dedup.
  */
object AnnQueries {
  val all: Seq[Query] = Seq(
    // ---- FILTERED vector search (FAISS IDSelector semantics): the index
    //      is built filter-agnostic over the whole corpus; an attribute
    //      predicate drops candidates inside the probed-list scan, before
    //      the rank heap. require() proves the filter is EXACT (no
    //      non-matching neighbor escapes); recall bound vs the filtered
    //      exact top-k, same contract as q53.
    Query("q7q_ivf_filtered", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val pred = col("vec_id") % 7 === 3
      val ann = Similarity.ivfTopK(s, emb, q, "vec_id", "embedding", k = 10,
        nprobe = 24, lloydRounds = 2, keep = pred)
      require(ann.where(col("nid") % 7 =!= 3).limit(1).count() == 0,
        "filtered ANN returned a non-matching candidate")
      val exact = Similarity.topKL2(emb.where(pred), q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- brute-force exact top-k similarity (quantized dot product)
    Query("q48_embed_topk", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.topKDot(emb, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 10).orderBy("qid", "rank")
    },
      s"""WITH ${TextOracle.quantCte()},
         |q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
         |d AS (SELECT q.vec_id AS qid, e.vec_id AS nid, ${TextOracle.dotSql("q.q", "e.q", 64)} AS dot
         |      FROM q JOIN e ON e.vec_id <> q.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rank FROM d)
         |SELECT qid, nid, rank, dot FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),
    // ---- ANN via hyperplane LSH. ORACLED via a recall bound: the ANN
    //      result is compared IN SPARK against the exact brute-force top-k
    //      over the same corpus; recall ≥ 0.8 (SimilaritySpec's gate)
    //      becomes a boolean the oracle re-asserts — an ANN regression
    //      turns the row red at the driver.
    Query("q49_ann_lsh", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      // planes/tables picked by RecallProbe measurement: recall 1.0 (sf0.01)
      // / 0.96 (sf0.1) vs the 0.8 bound — deterministic per SF, real margin
      val ann = Similarity.annTopK(s, emb, q, "vec_id", "embedding", k = 10,
        dims = 64, planes = 4, tables = 24)
      val exact = Similarity.topKDot(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- embedding cosine near-dup pairs (integer-exact comparison)
    Query("q50_cosine_near_dup", (s, dir) => {
      // Exact broadcast-blocked path (primitive i<j loop, zero pair-row
      // materialization, no cartesian/BNLJ node) — at t=0.45 an exact
      // answer is Θ(n²) dots and LSH candidates provably cost ≥6× more
      // (see Similarity scaladoc); the subquadratic LSH path (q-gated in
      // SimilaritySpec) is for corpus-scale t≥0.8 near-dup.
      Similarity.cosineNearDupPairsExact(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", threshold = 0.45).orderBy("id_a", "id_b")
    },
      s"""WITH ${TextOracle.quantCte()},
         |n AS (SELECT vec_id, q, ${TextOracle.dotSql("q", "q", 64)} AS n2 FROM e),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${TextOracle.dotSql("a.q", "b.q", 64)} AS dot,
         |       a.n2 AS na, b.n2 AS nb FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, dot FROM p
         |WHERE dot > 0 AND CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE) >= 0.45 * 0.45 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
         |ORDER BY id_a, id_b""".stripMargin),
    // ---- SemDeDup: hash-seeded coarse clusters (oracle-exact seed rule),
    //      within-cluster cosine prune — drop any vector with a lower-id
    //      neighbor at cos >= 0.45 in its cluster; the prune join is equi on
    //      list_id, never all-pairs.
    Query("q6q_semantic_dedup", (s, dir) => {
      Similarity.semanticDedup(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", numLists = 8, threshold = 0.45).orderBy("vec_id")
    }, {
      // the whole pipeline re-derived in SQL: hash-ordered seeds, exact
      // int-L2 nearest-seed assignment (ties → lower seed index), within-
      // cluster cosine prune with the verifyCosine double convention
      val h = TextOracle.charHash64Sql("CAST(vec_id AS VARCHAR)")
      def dot(a: String, b: String) = TextOracle.dotSql(a, b, 64)
      s"""WITH ${TextOracle.quantCte()},
         |n AS (SELECT vec_id, q, ${dot("q", "q")} AS n2 FROM e),
         |sd AS (SELECT vec_id, q FROM e ORDER BY $h, vec_id LIMIT 8),
         |s0 AS (SELECT row_number() OVER (ORDER BY $h, vec_id) - 1 AS j, q AS cq FROM sd),
         |seeds AS (SELECT j, cq, ${dot("cq", "cq")} AS cn2 FROM s0),
         |ar AS (SELECT n.vec_id, n.q, n.n2, s.j,
         |  s.cn2 - 2 * ${dot("n.q", "s.cq")} AS d FROM n CROSS JOIN seeds s),
         |asg AS (SELECT vec_id, q, n2, CAST(j AS INTEGER) AS list_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM ar) z
         |  WHERE rn = 1),
         |dr AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
         |  ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         |  WHERE ${dot("a.q", "b.q")} > 0 AND
         |    CAST(${dot("a.q", "b.q")} AS DOUBLE) * CAST(${dot("a.q", "b.q")} AS DOUBLE) >=
         |    0.45 * 0.45 * CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))
         |SELECT asg.vec_id, asg.list_id, dr.vec_id IS NULL AS kept
         |FROM asg LEFT JOIN dr ON asg.vec_id = dr.vec_id
         |ORDER BY asg.vec_id""".stripMargin
    }),
    // ---- IVF-bucketed ANN. ORACLED via the same recall-bound shape as
    //      q49, against the exact L2 top-k (IVF ranks by L2 — the FAISS
    //      IndexIVFFlat contract, so the reference must too).
    Query("q53_ivf_topk", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      // nprobe by RecallProbe measurement: recall 1.0 (sf0.01) / 0.87
      // (sf0.1) vs the 0.8 bound — the fixture embeddings are mostly
      // unclustered, so honest IVF recall needs a high probe fraction at
      // this corpus size; Lloyd centroids (2 rounds) add ~0.05
      val ann = Similarity.ivfTopK(s, emb, q, "vec_id", "embedding", k = 10,
        nprobe = 24, lloydRounds = 2)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- persisted IVF index (build-once/query-many): build writes the
    //      partition-pruned list table, query reads ONLY probed lists; same
    //      recall-bound contract vs in-job exact L2 as q53. Equality with
    //      the one-shot path + physical pruning gated in SimilaritySpec.
    Query("q6a_ivf_index", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf_q6a").toString
      Similarity.ivfBuildSave(s, emb, "vec_id", "embedding", idx, lloydRounds = 2)
      val ann = Similarity.ivfQueryIndex(s, idx, q, "vec_id", "embedding",
        k = 10, nprobe = 24)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- SHARDED-centroid IVF query (the 10^12-scale two-stage probe:
    //      centroid table never broadcasts / never reaches the driver;
    //      only the √nlist meta-quantizer does). Same driver contract as
    //      q6a: exact twin computed in-job, recall≥0.8 bound row.
    //      coarseProbe covers the full coarse stage here because the
    //      fixture's nprobe/nlist is huge (24/44 at sf0.1 — measured: any
    //      coarse pruning below full coverage must lose recall when more
    //      than half of ALL lists are wanted); deployments probe ~1% of
    //      lists and prune the coarse stage too — that approximate point
    //      is spec-gated (SimilaritySpec two-stage recall ≥ 0.8 at 3/5
    //      coarse cells).
    Query("q71_ivf_sharded", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf_q71").toString
      Similarity.ivfBuildSave(s, emb, "vec_id", "embedding", idx, lloydRounds = 2)
      val ann = Similarity.ivfQueryIndexSharded(s, idx, q, "vec_id", "embedding",
        k = 10, nprobe = 24, coarseProbe = 8)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- Sharded HNSW graph ANN (core.Hnsw + Similarity.hnswTopK) — the
    //      high-recall serving index (Malkov & Yashunin 2016): per-shard
    //      graphs built in mapPartitions (Lucene per-segment layout), query
    //      fans out and merges per-shard top-k. Same recall-bound contract
    //      vs the exact L2 twin as q53/q6a/q71.
    Query("q7a_hnsw", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val ann = Similarity.hnswTopK(s, emb, q, "vec_id", "embedding",
        k = 10, shards = 8, m = 16, efConstruction = 100, efSearch = 128)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- PERSISTED sharded-HNSW index (build-once/query-many, the q6a
    //      contract for the graph family): graphs serialize chunked under
    //      graphs/shard_id=N, a query batch deserializes each shard once;
    //      persisted == in-job rows and append-only-touched-shards are
    //      spec-gated. Same recall-bound row vs the exact L2 twin.
    Query("q7b_hnsw_index", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val idx = java.nio.file.Files.createTempDirectory("graft_hnsw_q7b").toString
      Similarity.hnswBuildSave(s, emb, "vec_id", "embedding", idx,
        shards = 8, m = 16, efConstruction = 100)
      val ann = Similarity.hnswQueryIndex(s, idx, q, "vec_id", "embedding",
        k = 10, efSearch = 128)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- PQ-COMPRESSED persisted IVF (FAISS IVFPQ shape): lists store m
    //      one-byte codes per vector instead of the full vector; query =
    //      partition-pruned scan + codegen ADC + exact re-rank of top-C
    //      against the primary store. Same recall-bound contract as q6a;
    //      the ≥4x on-disk shrink at equal recall is gated in
    //      SimilaritySpec.
    Query("q6f_ivf_pq", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_q6f").toString
      Similarity.ivfPqBuildSave(s, emb, "vec_id", "embedding", idx, lloydRounds = 2)
      val ann = Similarity.ivfPqQueryIndex(s, idx, emb, q, "vec_id", "embedding",
        k = 10, nprobe = 24, rerankC = 100)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- end-to-end embedding dedup: near-dup pairs → connected
    //      components → drop non-canonical rows (the full pipeline shape)
    Query("q59_embed_dedup_keep", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val pairs = Similarity.cosineNearDupPairsExact(emb, "vec_id", "embedding", 0.45)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.dupClusters(pairs.withColumn("jaccard", lit(1.0)))
      val drop = clusters.where(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("vec_id"))
      emb.join(drop, Seq("vec_id"), "left_anti")
        .select("vec_id", "label").orderBy("vec_id")
    },
      s"""WITH RECURSIVE ${TextOracle.quantCte()},
         |n AS (SELECT vec_id, q, ${TextOracle.dotSql("q", "q", 64)} AS n2 FROM e),
         |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id
         |  WHERE ${TextOracle.dotSql("a.q", "b.q", 64)} > 0
         |    AND CAST(${TextOracle.dotSql("a.q", "b.q", 64)} AS DOUBLE) * CAST(${TextOracle.dotSql("a.q", "b.q", 64)} AS DOUBLE)
         |        >= 0.45 * 0.45 * CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pr UNION ALL SELECT id_b, id_a FROM pr),
         |reach AS (SELECT s AS id, d AS r FROM edges
         |  UNION SELECT w.id, e.d FROM reach w JOIN edges e ON w.r = e.s),
         |lab AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM lab WHERE id <> cluster_id)
         |ORDER BY vec_id""".stripMargin)
  )
}

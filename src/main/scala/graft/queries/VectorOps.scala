package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.OrderedOps

/** Similarity search over `embeddings` (SURVEY.md §2b E3).
  *
  * Scale design: the exact top-k query broadcasts the (small) query set and
  * streams the candidate side — no shuffle of the big table. The all-pairs
  * variant is bounded to an id range at test scale; the 100 TB path is
  * [[graft.functions.VectorFunctions.lshBucket]]-bucketed ANN (e3_lsh_ann),
  * where pairs only form inside a bucket.
  */
object VectorOps {

  /** `(vec_id, v, nrm)` view of any batch with the embeddings schema —
    * shared by the fixture loader below and the streaming ingest path
    * ([[graft.streaming.AnnStreaming]]), so both sides prep vectors with
    * the identical expression. */
  private[graft] def prepEmb(df: DataFrame): DataFrame =
    df.select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))

  private def emb(s: SparkSession, dir: String): DataFrame =
    prepEmb(Tables.embeddings(s, dir))

  /** Shared DuckDB CTE: per-(vec, position) doubles + norms. */
  private val baseCte =
    """WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
      norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM x GROUP BY vec_id)"""

  /** Shared DuckDB CTE chain: nearest-centroid assignment against the
    * lowest-16-id coarse quantizer. One definition serves the IVF, centroid,
    * and Lloyd-iteration oracles so the assignment rule cannot drift apart
    * between them. */
  private val assignCte =
    """cd AS (SELECT a.vec_id AS vid, b.vec_id AS c_id, sum(a.v * b.v) AS dot
          FROM x a JOIN x b ON a.i = b.i WHERE b.vec_id < 16 GROUP BY 1, 2),
        cs AS (SELECT vid, c_id, dot / (na.nrm * nb.nrm) AS c_cos
          FROM cd JOIN norms na ON vid = na.vec_id
          JOIN norms nb ON c_id = nb.vec_id),
        assign AS (SELECT vid AS vec_id, c_id AS cluster FROM (
          SELECT vid, c_id, row_number() OVER (
            PARTITION BY vid ORDER BY c_cos DESC, c_id) rn FROM cs) t
          WHERE rn = 1)"""

  val defs: Seq[QueryDef] = Seq(

    // exact brute-force cosine top-k: broadcast queries × stream candidates
    QueryDef("e3_cosine_topk",
      (s, dir) => {
        val all = emb(s, dir)
        val q = all.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
        val scored = broadcast(q).join(all, col("q_id") =!= col("vec_id"))
          .withColumn("cos", cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        OrderedOps.topKPerGroup(scored, Seq("q_id"),
            Seq(col("cos").desc, col("vec_id")), k = 5)
          .withColumn("rank", col("rank").cast("long"))
          .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
            round(col("cos"), 6).as("cos_sim"))
          .orderBy("q_id", "rank")
      },
      Some(s"""$baseCte,
        dots AS (SELECT a.vec_id AS qa, b.vec_id AS qb, sum(a.v * b.v) AS dot
          FROM x a JOIN x b ON a.i = b.i
          WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id GROUP BY 1, 2),
        scored AS (SELECT qa, qb, dot / (na.nrm * nb.nrm) AS cos
          FROM dots JOIN norms na ON qa = na.vec_id
          JOIN norms nb ON qb = nb.vec_id),
        ranked AS (SELECT qa AS q_id, qb AS n_id, cos, row_number() OVER (
          PARTITION BY qa ORDER BY cos DESC, qb) AS rank FROM scored)
        SELECT q_id, rank, n_id, round(cos, 6) AS cos_sim
        FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""")),

    // embedding-cosine near-duplicate pairs above a similarity threshold
    QueryDef("e3_cosine_pairs",
      (s, dir) => {
        val bounded = emb(s, dir).filter(col("vec_id") < 300)
        val a = bounded.select(col("vec_id").as("a_id"), col("v").as("av"),
          col("nrm").as("an"))
        val b = bounded.select(col("vec_id").as("b_id"), col("v").as("bv"),
          col("nrm").as("bn"))
        a.join(b, col("a_id") < col("b_id"))
          .withColumn("cos", cosine(col("av"), col("bv"), col("an"), col("bn")))
          .filter(col("cos") >= 0.4)
          .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos_sim"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""$baseCte,
        dots AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, sum(a.v * b.v) AS dot
          FROM x a JOIN x b ON a.i = b.i
          WHERE a.vec_id < 300 AND b.vec_id < 300 AND a.vec_id < b.vec_id
          GROUP BY 1, 2)
        SELECT a_id, b_id, round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
        FROM dots JOIN norms na ON a_id = na.vec_id
        JOIN norms nb ON b_id = nb.vec_id
        WHERE dot / (na.nrm * nb.nrm) >= 0.4
        ORDER BY a_id, b_id""")),

    // LSH-bucketed ANN (the 100 TB scale path): multi-table hyperplane sign
    // signatures → same-(table,bucket) candidates → exact cosine re-rank of
    // the deduped candidate set. The hash family is deterministic float math
    // (splitmix64-derived plane weights), so — like e3_ivf_ann — it gets a
    // full DuckDB oracle: the planes are emitted as a literal table
    // (E-notation so DuckDB types them DOUBLE, not DECIMAL) and the
    // bucket → candidate → re-rank pipeline is replayed in SQL. Recall vs
    // brute force is additionally asserted in VectorSpec.
    QueryDef("e3_lsh_ann",
      (s, dir) => lshAnnTopK(s, dir, nQueries = 50, k = 3),
      Some(lshAnnOracleSql)),

    // the same ANN served from the PERSISTED bucket index ([[lshIndex]]):
    // index construction (hashing the corpus) happens once per
    // fixture+params+code; the row measures what a serving tier actually
    // pays per query batch — posting-table scan + candidate join + exact
    // re-rank. Byte-identical results (VectorSpec parity), same oracle
    // (which replays the whole pipeline from scratch in SQL).
    QueryDef("e3_lsh_store",
      (s, dir) => lshStoreTopK(s, dir, nQueries = 50, k = 3),
      Some(lshAnnOracleSql)),

    // embedding-cosine near-DEDUP (the decision step on top of pair
    // finding): every vector whose cosine to a LOWER-id vector exceeds the
    // threshold is marked a duplicate of its best (then lowest-id) such
    // keeper — the single-pass min-id keeper rule used by LSH dedup at
    // scale. Same bounded pair base as e3_cosine_pairs at test scale; at
    // 100 TB the pair source swaps to the LSH/IVF candidate join.
    QueryDef("e3_embed_neardup",
      (s, dir) => {
        val bounded = emb(s, dir).filter(col("vec_id") < 300)
        val a = bounded.select(col("vec_id").as("keeper_id"), col("v").as("av"),
          col("nrm").as("an"))
        val b = bounded.select(col("vec_id").as("dup_id"), col("v").as("bv"),
          col("nrm").as("bn"))
        a.join(b, col("keeper_id") < col("dup_id"))
          .withColumn("cos", cosine(col("av"), col("bv"), col("an"), col("bn")))
          .filter(col("cos") >= 0.4)
          .groupBy("dup_id")
          .agg(max_by(col("keeper_id"), struct(col("cos"), -col("keeper_id")))
            .as("keeper_id"),
            count(lit(1)).as("n_candidates"),
            round(max("cos"), 6).as("best_cos"))
          .orderBy("dup_id")
      },
      Some(s"""$baseCte,
        dots AS (SELECT a.vec_id AS keeper_id, b.vec_id AS dup_id,
            sum(a.v * b.v) AS dot
          FROM x a JOIN x b ON a.i = b.i
          WHERE a.vec_id < 300 AND b.vec_id < 300 AND a.vec_id < b.vec_id
          GROUP BY 1, 2),
        scored AS (SELECT keeper_id, dup_id, dot / (na.nrm * nb.nrm) AS cos
          FROM dots JOIN norms na ON keeper_id = na.vec_id
          JOIN norms nb ON dup_id = nb.vec_id
          WHERE dot / (na.nrm * nb.nrm) >= 0.4),
        ranked AS (SELECT dup_id, keeper_id, cos, row_number() OVER (
          PARTITION BY dup_id ORDER BY cos DESC, keeper_id) AS rn
          FROM scored)
        SELECT r.dup_id, r.keeper_id,
          (SELECT count(*) FROM scored s WHERE s.dup_id = r.dup_id) AS n_candidates,
          (SELECT round(max(cos), 6) FROM scored s WHERE s.dup_id = r.dup_id) AS best_cos
        FROM ranked r WHERE rn = 1 ORDER BY dup_id""")),

    // IVF-bucketed ANN (the inverted-file scale path): TRAINED coarse
    // quantizer (lowest-16-id seed + 2 Lloyd iterations, exact
    // DECIMAL-carrier means so both engines refine to bit-identical
    // centroids) → nearest-centroid inverted lists → probe nprobe lists →
    // exact re-rank. Fully deterministic float math, so unlike LSH it gets
    // a DuckDB oracle (training unrolled as CTE chains); recall vs brute
    // force — and trained ≥ untrained-seed recall at equal nprobe —
    // asserted in VectorSpec.
    QueryDef("e3_ivf_ann",
      (s, dir) => ivfAnnTopK(s, dir, nQueries = 50, k = 3, trainIters = 2),
      Some(ivfOracleSql)),

    // The SAME trained-IVF semantics served from the ON-DISK index layout:
    // posting rows written partitionBy(cluster) once per fixture (the
    // inverted lists ARE parquet partition directories), serving joins the
    // store on its partition column against the broadcast probe set, and
    // dynamic partition pruning skips every un-probed list at the file
    // level. Identical results to e3_ivf_ann by construction (same
    // quantizer artifact, same assignment rule, same re-rank), so it shares
    // the oracle verbatim; PlanSpec pins the dynamicpruning subquery in the
    // scan and VectorSpec pins the byte-parity.
    QueryDef("e3_ivf_store",
      (s, dir) => ivfStoreTopK(s, dir, nQueries = 50, k = 3, trainIters = 2),
      Some(ivfOracleSql)),

    // Hybrid retrieval with reciprocal-rank fusion — the serving pattern
    // behind RAG search: a DENSE retriever (embedding cosine) and a SPARSE
    // retriever (TF-IDF cosine over the text, THE SAME contract object as
    // e4_tfidf_cosine — see TfIdf) each rank candidates per query over the
    // SAME candidate universe, then RRF sums 1/(60 + rank) across the
    // lists and re-ranks — robust to the two retrievers' incomparable
    // score scales, which is why hybrid search fuses on rank, not score.
    // MODELING ASSUMPTION (pinned by VectorSpec's id-alignment canary):
    // embeddings.vec_id IS documents.doc_id — the fixture's embeddings are
    // the documents' embeddings, 1:1 by id at every SF, so the two lists
    // rank the same entities. Retrieval depth 10 per list, final k 3,
    // ids < 150 as the shared universe (the bounded-corpus rationale of
    // e4_tfidf_cosine on this 31-word synthetic vocabulary). At 100 TB
    // both candidate generators swap for their indexed paths (the IVF
    // posting store / an impact-ordered TF-IDF posting list); the fusion
    // itself is one union + (q_id, n_id) key shuffle over
    // O(queries × depth) rows — independent of corpus size.
    QueryDef("e3_hybrid_rrf",
      (s, dir) => {
        val nQ = 10; val universe = 150; val depth = 10; val k = 3
        val all = emb(s, dir).filter(col("vec_id") < universe)
        val qv = all.filter(col("vec_id") < nQ)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qn"))
        val denseScored = broadcast(qv)
          .join(all, col("q_id") =!= col("vec_id"))
          .withColumn("cos",
            cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        val dense = OrderedOps.topKPerGroup(denseScored, Seq("q_id"),
            Seq(col("cos").desc, col("vec_id")), depth)
          .select(col("q_id"), col("vec_id").as("n_id"),
            col("rank").cast("long").as("r"))
        // w feeds the norm table AND both sides of the pair join:
        // materialize it once (the e4_tfidf tf-checkpoint rationale) or
        // the tokenize+explode+aggregate chain replays per consumer.
        // No WidenScan: the input is the BOUNDED 150-doc retrieval
        // universe — tokenizing 150 docs is trivial at any corpus scale,
        // and the repartition only added a stage (round-10 watch item)
        val w = TfIdf.weights(
            Tables.documents(s, dir).filter(col("doc_id") < universe))
          .localCheckpoint(true, graft.operators.Ckpt.SerLevel)
        val tn = TfIdf.norms(w)
        val sdots = w.as("a")
          .join(w.as("b"), col("a.t") === col("b.t") &&
            col("a.doc_id") < nQ && col("a.doc_id") =!= col("b.doc_id"))
          .groupBy(col("a.doc_id").as("q_id"), col("b.doc_id").as("n_id"))
          .agg(TfIdf.quantizedDot(col("a.w"), col("b.w")).as("dot"))
        val sparseScored = sdots
          .join(tn.select(col("doc_id").as("q_id"), col("nrm").as("na")),
            "q_id")
          .join(tn.select(col("doc_id").as("n_id"), col("nrm").as("nb")),
            "n_id")
          .withColumn("cos", col("dot") / (col("na") * col("nb")))
        val sparse = OrderedOps.topKPerGroup(sparseScored, Seq("q_id"),
            Seq(col("cos").desc, col("n_id")), depth)
          .select(col("q_id"), col("n_id"), col("rank").cast("long").as("r"))
        val fused = dense.unionByName(sparse)
          .groupBy("q_id", "n_id")
          .agg(sum(lit(1.0) / (col("r") + 60.0)).as("rrf"),
            count(lit(1)).as("n_lists"))
        OrderedOps.topKPerGroup(fused, Seq("q_id"),
            Seq(col("rrf").desc, col("n_id")), k)
          .select(col("q_id"), col("rank").cast("long").as("rank"),
            col("n_id"), col("n_lists"), round(col("rrf"), 6).as("rrf_score"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
            unnest(generate_series(1, len(embedding))) AS i FROM embeddings
          WHERE vec_id < 150),
        norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM x
          GROUP BY vec_id),
        dd AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.v * b.v) AS dot
          FROM x a JOIN x b ON a.i = b.i
          WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id GROUP BY 1, 2),
        dscore AS (SELECT q_id, n_id, dot / (na.nrm * nb.nrm) AS cos
          FROM dd JOIN norms na ON q_id = na.vec_id
          JOIN norms nb ON n_id = nb.vec_id),
        dense AS (SELECT q_id, n_id, r FROM (SELECT q_id, n_id,
            row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS r
          FROM dscore) z WHERE r <= 10),
        ${TfIdf.oracleCtes(150)},
        sd AS (SELECT a.doc_id AS q_id, b.doc_id AS n_id,
            ${TfIdf.oracleQuantizedDot("a.w", "b.w")} AS dot
          FROM w a JOIN w b ON a.t = b.t
            AND a.doc_id < 10 AND a.doc_id <> b.doc_id
          GROUP BY 1, 2),
        sscore AS (SELECT q_id, n_id, dot / (na.nrm * nb.nrm) AS cos
          FROM sd JOIN tn na ON q_id = na.doc_id
          JOIN tn nb ON n_id = nb.doc_id),
        sparse AS (SELECT q_id, n_id, r FROM (SELECT q_id, n_id,
            row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS r
          FROM sscore) z2 WHERE r <= 10),
        fused AS (SELECT q_id, n_id, sum(1.0 / (r + 60.0)) AS rrf,
            count(*) AS n_lists
          FROM (SELECT * FROM dense UNION ALL SELECT * FROM sparse) u
          GROUP BY 1, 2),
        ranked AS (SELECT q_id, n_id, n_lists, rrf, row_number() OVER (
            PARTITION BY q_id ORDER BY rrf DESC, n_id) AS rank FROM fused)
        SELECT q_id, rank, n_id, n_lists, round(rrf, 6) AS rrf_score
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    // per-cluster centroid embeddings (k-means-style update step / cluster
    // summarization): nearest-centroid assignment (broadcast quantizer, one
    // row per vector through the shuffle), then a per-(cluster, dim) mean.
    // Dimension sums ride a DECIMAL carrier so they are exact and
    // order-independent — a plain double sum would make the result depend on
    // partition merge order at scale. Output is one row per (cluster, dim):
    // ~nlist × dim rows, tiny at any corpus size.
    QueryDef("e3_centroids",
      (s, dir) => {
        val all = emb(s, dir)
        val assign = nearestCentroid(all, centroidSet(all, 16))
        all.join(assign, "vec_id")
          .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cluster", "pos")
          .agg(count(lit(1)).as("n"),
            round(sum(col("x").cast("decimal(27,10)")).cast("double")
              / count(lit(1)), 6).as("centroid"))
          .select(col("cluster"), col("pos").cast("long").as("pos"),
            col("n"), col("centroid"))
          .orderBy("cluster", "pos")
      },
      Some(s"""$baseCte,
        $assignCte
        SELECT cluster, i - 1 AS pos, count(*) AS n,
          round(CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*), 6)
            AS centroid
        FROM x JOIN assign USING (vec_id)
        GROUP BY 1, 2 ORDER BY cluster, pos""")),

    // Full Lloyd iteration on top of e3_centroids — the distributed k-means
    // loop body: exact DECIMAL-carrier centroid update (bit-identical
    // doubles on both engines), then broadcast reassignment of every vector
    // to its nearest updated centroid (tiny nlist×dim centroid table on the
    // map side; one row per vector through the final shuffle), emitted as
    // per-cluster size + how many vectors moved — the convergence signal a
    // driver loop would test. Iterating = repeating this same stage.
    QueryDef("e3_kmeans_iter",
      (s, dir) => {
        val all = emb(s, dir)
        // assign1 feeds the centroid update AND the moved-vectors join:
        // materialize the tiny (vec_id, cluster) table once or the full
        // brute-force nearest-centroid scoring runs twice
        val assign1 = nearestCentroid(all, centroidSet(all, 16))
          .localCheckpoint(true, graft.operators.Ckpt.SerLevel)
        val cent = all.join(assign1, "vec_id")
          .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cluster", "pos")
          .agg((sum(col("x").cast("decimal(27,10)")).cast("double")
            / count(lit(1))).as("c"))
        val centArr = cent.groupBy("cluster")
          .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
          .select(col("cluster"),
            transform(col("pc"), p => p.getField("c")).as("cv"))
          .withColumn("cn", norm(col("cv")))
        val scored = all.crossJoin(broadcast(centArr))
          .withColumn("cs2", cosine(col("v"), col("cv"), col("nrm"), col("cn")))
        val assign2 = scored.groupBy("vec_id")
          .agg(max_by(col("cluster"),
            struct(col("cs2"), (-col("cluster")).as("nc"))).as("cluster2"))
        assign1.join(assign2, "vec_id")
          .groupBy(col("cluster2").as("cluster"))
          .agg(count(lit(1)).as("n"),
            sum((col("cluster") =!= col("cluster2")).cast("long"))
              .as("n_moved"))
          .orderBy("cluster")
      },
      Some(s"""$baseCte,
        $assignCte,
        cent AS (SELECT cluster, i,
            CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS c
          FROM x JOIN assign USING (vec_id) GROUP BY cluster, i),
        cnorm AS (SELECT cluster, sqrt(sum(c * c)) AS cn FROM cent
          GROUP BY cluster),
        dot2 AS (SELECT x.vec_id, cent.cluster, sum(x.v * cent.c) AS dot
          FROM x JOIN cent ON x.i = cent.i GROUP BY 1, 2),
        cos2 AS (SELECT dot2.vec_id, dot2.cluster,
            dot / (norms.nrm * cnorm.cn) AS cs2
          FROM dot2 JOIN norms ON dot2.vec_id = norms.vec_id
          JOIN cnorm ON dot2.cluster = cnorm.cluster),
        assign2 AS (SELECT vec_id, cluster FROM (
          SELECT vec_id, cluster, row_number() OVER (
            PARTITION BY vec_id ORDER BY cs2 DESC, cluster) rn FROM cos2) t
          WHERE rn = 1)
        SELECT a2.cluster, count(*) AS n,
          CAST(sum(CASE WHEN a1.cluster <> a2.cluster THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved
        FROM assign2 a2 JOIN assign a1 USING (vec_id)
        GROUP BY a2.cluster ORDER BY a2.cluster""")),

    // int8 scalar quantization — the embedding-compression step a
    // corpus-scale ANN index runs before storage (4× memory cut, distance
    // math on int8 with one per-vector rescale). Per-vector max-abs is a
    // per-row array reduction (map-side, no shuffle); quantized codes are
    // round(v / max_abs × 127). Deterministic double math → full oracle.
    QueryDef("e3_quantize",
      (s, dir) => {
        // sort BEFORE the explode: the output order (vec_id, then pos) is
        // exactly "range-sort the vectors, then emit each row's dims in
        // index order" — posexplode preserves per-row element order and
        // range partitions are globally ordered, so sorting the 500k-row
        // vector table instead of the 64×-exploded dim table produces the
        // identical row sequence while the range exchange + sort (and the
        // range-boundary SAMPLING pass, which re-executes the upstream)
        // carry 1/64th the rows (100× pin: 37.3 → see OPTIMIZATION_r17).
        val all = emb(s, dir).withColumn("max_abs",
          array_max(transform(col("v"), x => abs(x))))
        all.select(col("vec_id"), col("max_abs"), col("v"))
          .orderBy("vec_id")
          .select(col("vec_id"), col("max_abs"),
            posexplode(col("v")).as(Seq("pos", "x")))
          .select(col("vec_id"), col("pos").cast("long").as("pos"),
            when(col("max_abs") === 0, lit(0L))
              .otherwise(round(col("x") / col("max_abs") * 127, 0)
                .cast("long")).as("q"),
            round(col("max_abs"), 6).as("scale"))
      },
      Some(s"""$baseCte,
        ma AS (SELECT vec_id, max(abs(v)) AS max_abs FROM x GROUP BY vec_id)
        SELECT x.vec_id, i - 1 AS pos,
          CAST(CASE WHEN max_abs = 0 THEN 0
            ELSE round(v / max_abs * 127) END AS BIGINT) AS q,
          round(max_abs, 6) AS scale
        FROM x JOIN ma USING (vec_id) ORDER BY vec_id, pos""")),

    // E3-eval: cluster PURITY — do the coarse-quantizer clusters agree with
    // the ground-truth labels riding the embeddings table? Per cluster:
    // majority label (deterministic min-label tie), its fraction of the
    // cluster, entropy-free purity — the standard clustering-quality
    // number an embedding pipeline reports. Assignment reuses the shared
    // 16-centroid quantizer (same CTE as IVF/k-means, so the rule can't
    // drift); label counts are cluster×label-sized.
    QueryDef("e3_cluster_purity",
      (s, dir) => {
        val all = emb(s, dir)
        val assign = nearestCentroid(all, centroidSet(all, 16))
        val lab = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
        val cl = assign.join(lab, "vec_id")
          .groupBy("cluster", "label").agg(count(lit(1)).as("cn"))
        cl.groupBy("cluster")
          .agg(sum("cn").as("n"),
            max("cn").as("n_major"),
            min_by(col("label"), struct((-col("cn")).as("nc"), col("label")))
              .as("major_label"))
          .select(col("cluster"), col("n"),
            col("major_label").cast("long").as("major_label"),
            round(col("n_major").cast("double") / col("n"), 6).as("purity"))
          .orderBy("cluster")
      },
      Some(s"""$baseCte,
        $assignCte,
        cl AS (SELECT cluster, label, count(*) AS cn
          FROM assign JOIN embeddings USING (vec_id) GROUP BY 1, 2)
        SELECT cluster, CAST(sum(cn) AS BIGINT) AS n,
          CAST((SELECT label FROM cl i WHERE i.cluster = o.cluster
            ORDER BY cn DESC, label LIMIT 1) AS BIGINT) AS major_label,
          round(CAST(max(cn) AS DOUBLE) / sum(cn), 6) AS purity
        FROM cl o GROUP BY cluster ORDER BY cluster""")),

    // E3-decontamination: SEMANTIC benchmark overlap — flag corpus vectors
    // whose cosine to ANY benchmark/eval-set embedding crosses the
    // threshold (the embedding-space complement of e2_decontaminate's
    // n-gram overlap; catches paraphrased contamination that shingles
    // miss). The benchmark side broadcasts at any corpus size (eval sets
    // are small by construction); one partial-agged max_by per corpus
    // vector, big side never shuffles for the join.
    QueryDef("e3_embed_decontaminate",
      (s, dir) => {
        val all = emb(s, dir)
        val bench = all.filter(col("vec_id") < 10)
          .select(col("vec_id").as("b_id"), col("v").as("bv"),
            col("nrm").as("bn"))
        all.filter(col("vec_id") >= 10)
          .crossJoin(broadcast(bench))
          .withColumn("cos", cosine(col("v"), col("bv"), col("nrm"),
            col("bn")))
          .groupBy("vec_id")
          .agg(max("cos").as("best_cos"),
            max_by(col("b_id"), struct(col("cos"), (-col("b_id")).as("nb")))
              .as("benchmark_id"))
          .filter(col("best_cos") >= 0.3)
          .select(col("vec_id"), col("benchmark_id"),
            round(col("best_cos"), 6).as("best_cos"))
          .orderBy("vec_id")
      },
      Some(s"""$baseCte,
        dots AS (SELECT a.vec_id AS c_id, b.vec_id AS b_id,
            sum(a.v * b.v) AS dot
          FROM x a JOIN x b ON a.i = b.i
          WHERE b.vec_id < 10 AND a.vec_id >= 10 GROUP BY 1, 2),
        cs AS (SELECT c_id, b_id, dot / (na.nrm * nb.nrm) AS cos FROM dots
          JOIN norms na ON c_id = na.vec_id JOIN norms nb ON b_id = nb.vec_id),
        ranked AS (SELECT c_id, b_id, cos, max(cos) OVER (PARTITION BY c_id)
            AS best, row_number() OVER (PARTITION BY c_id
            ORDER BY cos DESC, b_id) AS rn FROM cs)
        SELECT c_id AS vec_id, b_id AS benchmark_id,
          round(cos, 6) AS best_cos
        FROM ranked WHERE rn = 1 AND cos >= 0.3 ORDER BY vec_id""")),

    // Product-quantization ANN (IVF-ADC's compression half): split each
    // vector into 8 sub-blocks of 8 dims, encode every sub-block as its
    // nearest of 16 codewords — a TRAINED codebook: the lowest-16-id
    // vectors' sub-blocks seed it (the same deterministic init trick as
    // e3_ivf_ann) and one Lloyd refinement re-centers every codeword on
    // the exact DECIMAL-carrier mean of its assigned sub-blocks, per
    // sub-space (k-means on 8-dim blocks, the textbook PQ trainer; the
    // oracle replays it through the cw1/d1/enc1 CTEs) — then answer
    // queries by Asymmetric Distance Computation: distance(query, doc) ≈
    // Σ_j d(query_subᵢ, codeword(doc, j)) looked up from a tiny precomputed
    // table, never touching doc floats until the exact re-rank of a
    // 20-candidate shortlist. Scale shape: the codebook (128 sub-blocks) and
    // the per-query distance table (queries × 16 × 8 rows) both broadcast;
    // the big table flows through as 8 code rows/vector (at rest this is
    // the 8-byte code the index stores — an 8/256ths memory footprint), and
    // the ADC agg moves ≤ queries × n rows of integers. All distances are
    // per-dim micro-quantized squared L2 (integer sums — order- and
    // engine-independent), ties → lowest codeword/id. Recall vs exact L2
    // asserted in VectorSpec.
    QueryDef("e3_pq_adc",
      (s, dir) => pqAdcTopK(s, dir, refineIters = 1),
      Some(pqOracleSql)),

    // PQ-ADC served from the PERSISTED codebook + code table
    // ([[pqIndex]]): the corpus is re-encoded exactly never; the row
    // measures the serving cost — query LUT broadcast, one narrow
    // code-table scan, shortlist re-rank. Byte-identical results
    // (VectorSpec parity), same from-scratch oracle.
    QueryDef("e3_pq_store",
      (s, dir) => pqStoreTopK(s, dir, 1),
      Some(pqOracleSql)),

    // ANN QUALITY under the driver's hash gate (round-15 verdict item 8):
    // recall@k of each approximate method against ITS exact ground truth —
    // lsh/ivf vs brute-force cosine top-3 over the same 50 queries, pq vs
    // exact micro-quantized-L2 top-5 over its 10 queries (pq ranks by L2;
    // cosine truth would be the wrong yardstick). Both sides are
    // deterministic, so the score itself — not just the plumbing — is
    // rows+schema+hash checked; the oracle recomputes every method AND its
    // truth from scratch in SQL. The Spark-side joins are over ≤150-row
    // result sets; the one-row crossJoins are the sanctioned
    // scalar-combine shape.
    QueryDef("e3_recall_report",
      (s, dir) => {
        // both ground truths are PERSISTED artifacts (the e2_edit_blocked
        // nightly pattern, round-16 verdict item 4): brute force runs ONCE
        // per `Tables.key` and every later run reads the
        // ≤150-row parquet back — at 100× the truth recomputation was
        // ~100 s of the row's ~123 s, every sweep. Longs round-trip
        // parquet exactly, so the recall numbers (and the DuckDB oracle,
        // which recomputes truth from scratch in SQL) are unchanged.
        def truthArtifact(tag: String)(build: => DataFrame): DataFrame =
          broadcast(Tables.persistedArtifact(s, "graft_anntruth",
            Tables.key(dir, Seq("embeddings"), tag))(build))
        val bf3 = truthArtifact("bf3-50-3")(
          bruteForceTopK(s, dir, nQueries = 50, k = 3)
            .select("q_id", "n_id"))
        val bfL2 = truthArtifact("bfl2-10-5") {
          val all = emb(s, dir)
          val q10 = all.filter(col("vec_id") < 10)
            .select(col("vec_id").as("q_id"), col("v").as("qv"))
          val l2scored = broadcast(q10)
            .join(all, col("q_id") =!= col("vec_id"))
            .withColumn("l2", l2Micros(col("qv"), col("v")))
          OrderedOps.topKPerGroup(l2scored, Seq("q_id"),
              Seq(col("l2").asc, col("vec_id")), 5)
            .select(col("q_id"), col("vec_id").as("n_id"))
        }
        def recallOf(method: String, ann: DataFrame,
            truth: DataFrame): DataFrame =
          ann.select("q_id", "n_id").join(truth, Seq("q_id", "n_id"))
            .agg(count(lit(1)).as("hits"))
            .crossJoin(truth.agg(count(lit(1)).as("total")))
            .select(lit(method).as("method"), col("hits"), col("total"),
              round(col("hits").cast("double") / col("total"), 6)
                .as("recall"))
        // every method leg serves from its PERSISTED index (the store
        // variants — byte-parity with the from-scratch plans is pinned by
        // VectorSpec, so the recall numbers are unchanged): re-measuring
        // quality each sweep should cost a serve, not an index rebuild.
        recallOf("ivf_ann",
            ivfStoreTopK(s, dir, nQueries = 50, k = 3, trainIters = 2), bf3)
          .unionByName(recallOf("lsh_ann",
            lshStoreTopK(s, dir, nQueries = 50, k = 3), bf3))
          .unionByName(recallOf("pq_adc", pqStoreTopK(s, dir, 1), bfL2))
          .orderBy("method")
      },
      Some(recallOracleSql)),

    // The IVF store's per-list occupancy audit as a driver-checked row
    // (round-16: the drift signal behind AnnStreaming.splitHotLists, here
    // over the batch-built posting store so DuckDB can replay it from the
    // assignment CTEs). One aggregate over the partition column — the scan
    // reads no data columns; the one-row mean crossJoin is the sanctioned
    // scalar combine. At 100 TB this is the consolidation-time health
    // check that decides whether a hot list splits.
    QueryDef("e3_list_audit",
      (s, dir) => graft.streaming.AnnStreaming
        .listSkewAudit(s, postingStorePath(s, dir, 16, 2), hotFactor = 4.0)
        .select(col("cluster"), col("rows"),
          round(col("mean_rows"), 6).as("mean_rows"),
          round(col("ratio"), 6).as("ratio"), col("is_hot"))
        .orderBy("cluster"),
      Some(s"""$baseCte,
        $assignCte,
        ${lloydCtes(2)},
        counts AS (SELECT cluster, count(*) AS rows FROM assign2 GROUP BY 1),
        m AS (SELECT CAST(sum(rows) AS DOUBLE) / count(*) AS mean_rows
          FROM counts)
        SELECT cluster, rows, round(mean_rows, 6) AS mean_rows,
          round(rows / mean_rows, 6) AS ratio,
          rows / mean_rows > 4.0 AS is_hot
        FROM counts, m ORDER BY cluster""")),

    // The COLD side of the same drift signal (round-17: the audit behind
    // AnnStreaming.mergeColdLists). Differs from e3_list_audit in the one
    // way that matters: it joins the QUANTIZER's centroid ids against the
    // store's counts (full outer), so a centroid whose list holds ZERO
    // rows — invisible to a groupBy over the store — surfaces as is_dead,
    // and a store label the quantizer no longer carries surfaces as
    // is_orphan. At 100 TB this is the maintenance-time decision input
    // for merging drained lists and retiring dead centroids (probe budget
    // spent on an empty list is pure waste, forever).
    QueryDef("e3_cold_audit",
      (s, dir) => graft.streaming.AnnStreaming
        .coldListAudit(s, postingStorePath(s, dir, 16, 2),
          persistedTrainedCentroids(s, dir, 16, 2), coldFactor = 0.5)
        .select(col("cluster"), col("rows"),
          round(col("mean_rows"), 6).as("mean_rows"),
          round(col("ratio"), 6).as("ratio"),
          col("is_cold"), col("is_dead"), col("is_orphan"))
        .orderBy("cluster"),
      Some(s"""$baseCte,
        $assignCte,
        ${lloydCtes(2)},
        known AS (SELECT DISTINCT cluster FROM cent2),
        counts AS (SELECT cluster, count(*) AS rows FROM assign2 GROUP BY 1),
        fj AS (SELECT coalesce(k.cluster, c.cluster) AS cluster,
            coalesce(c.rows, 0) AS rows,
            k.cluster IS NOT NULL AS known
          FROM known k FULL OUTER JOIN counts c ON k.cluster = c.cluster),
        m AS (SELECT CAST(sum(rows) AS DOUBLE) / count(*) AS mean_rows
          FROM fj)
        SELECT cluster, rows, round(mean_rows, 6) AS mean_rows,
          round(rows / mean_rows, 6) AS ratio,
          known AND rows > 0 AND rows / mean_rows < 0.5 AS is_cold,
          known AND rows = 0 AS is_dead,
          NOT known AS is_orphan
        FROM fj, m ORDER BY cluster""")),

    // PQ codebook staleness as a driver row (round-16 verdict item 3, the
    // sub-space analog of e3_cold_audit): per sub-space, the mean encoding
    // distortion of the SERVING codebook and the mean signed ADC-vs-exact
    // error over the e3_pq_adc query set. Under drift these rise in the
    // drifted sub-spaces while the codebook stands still — the number that
    // decides a codebook retrain the way e3_list_audit/e3_cold_audit
    // decide a list split/merge (PqDriftSpec pins the movement on a
    // drifted fixture). Exact micro-long arithmetic with DECIMAL-carrier
    // means → fully hash-checked against the DuckDB replay.
    QueryDef("e3_pq_distortion",
      (s, dir) => pqDistortionReport(s, dir, refineIters = 1),
      Some(pqDistortionOracleSql)),

    // SemDeDup-style semantic dedup (cluster-then-pair): assign every vector
    // to its nearest coarse centroid, then look for near-duplicate pairs ONLY
    // within a cluster — the shape that makes embedding dedup tractable at
    // corpus scale (SemDeDup, Abbas et al. 2023). The pair join shuffles both
    // sides on `cluster` (no all-pairs blow-up: candidate count is
    // sum_c C(n_c, 2), and nlist grows ~sqrt(n) so per-cluster size stays
    // bounded); the keeper rule is the same single-pass best-cos/min-id
    // max_by as e3_embed_neardup. Deterministic float math → full oracle
    // reusing the shared assignment CTE.
    QueryDef("e3_semdedup",
      (s, dir) => {
        val all = emb(s, dir)
        val assign = nearestCentroid(all, centroidSet(all, 16))
        // checkpoint the assigned table: it feeds BOTH self-join sides, and
        // the chunk salt below de-aligns their exchanges, so without a leaf
        // the assignment aggregate would execute once per side
        val withC = all.join(assign, "vec_id")
          .localCheckpoint(true, graft.operators.Ckpt.SerLevel)
        // chunk-salt the within-cluster self-join: on `cluster` alone the
        // shuffle has ≤ nlist(=16) non-empty partitions, so the pair
        // explosion (sum_c C(n_c,2) — ~625M dots at the 100× fixture) runs
        // at most 16-wide on a 32-core box and a big cluster is one
        // straggler task; AQE can't help because the INPUT partitions are
        // tiny (the blow-up happens inside the join). Splitting the dup
        // side into S deterministic id-hash chunks and replicating the
        // keeper side S ways raises the key space to nlist×S with the
        // same output pair set — measured at 100×: 64.6 s → (see
        // REGRESS_r16) with S=8. At cluster scale the same seam keeps
        // per-task pair counts bounded no matter how a hot cluster grows.
        val S = 8
        val a = withC.select(col("cluster"), col("vec_id").as("keeper_id"),
            col("v").as("av"), col("nrm").as("an"))
          .withColumn("chunk", explode(array((0 until S).map(lit): _*)))
        val b = withC.select(col("cluster"), col("vec_id").as("dup_id"),
            col("v").as("bv"), col("nrm").as("bn"))
          .withColumn("chunk", pmod(xxhash64(col("dup_id")), lit(S)))
        a.join(b, Seq("cluster", "chunk"))
          .filter(col("keeper_id") < col("dup_id"))
          .withColumn("cos", cosine(col("av"), col("bv"), col("an"), col("bn")))
          .filter(col("cos") >= 0.4)
          .groupBy("dup_id")
          .agg(max_by(col("keeper_id"), struct(col("cos"), -col("keeper_id")))
              .as("keeper_id"),
            min(col("cluster")).as("cluster"),
            count(lit(1)).as("n_candidates"),
            round(max("cos"), 6).as("best_cos"))
          .orderBy("dup_id")
      },
      Some(s"""$baseCte,
        $assignCte,
        pairs AS (SELECT a1.cluster, a1.vec_id AS keeper_id,
            a2.vec_id AS dup_id
          FROM assign a1 JOIN assign a2 ON a1.cluster = a2.cluster
            AND a1.vec_id < a2.vec_id),
        dots AS (SELECT p.cluster, p.keeper_id, p.dup_id,
            sum(xa.v * xb.v) AS dot
          FROM pairs p JOIN x xa ON xa.vec_id = p.keeper_id
          JOIN x xb ON xb.vec_id = p.dup_id AND xa.i = xb.i
          GROUP BY 1, 2, 3),
        scored AS (SELECT cluster, keeper_id, dup_id,
            dot / (na.nrm * nb.nrm) AS cos
          FROM dots JOIN norms na ON keeper_id = na.vec_id
          JOIN norms nb ON dup_id = nb.vec_id
          WHERE dot / (na.nrm * nb.nrm) >= 0.4),
        ranked AS (SELECT dup_id, cluster, keeper_id, cos, row_number() OVER (
          PARTITION BY dup_id ORDER BY cos DESC, keeper_id) AS rn
          FROM scored)
        SELECT r.dup_id, r.keeper_id, r.cluster,
          (SELECT count(*) FROM scored s WHERE s.dup_id = r.dup_id)
            AS n_candidates,
          (SELECT round(max(cos), 6) FROM scored s WHERE s.dup_id = r.dup_id)
            AS best_cos
        FROM ranked r WHERE rn = 1 ORDER BY dup_id"""))
  )

  /** IVF ANN: nlist lowest-id vectors seed the coarse quantizer; with
    * `trainIters` > 0 the seed is refined by that many Lloyd iterations
    * ([[trainedCentroids]]). Assignment is a broadcast nlist-way scored
    * cross join collapsed by a partial-aggregating max_by, so exactly one
    * row per vector crosses the assignment shuffle; queries probe the
    * nprobe nearest centroids and exact-rerank only their inverted lists.
    * At 100 TB: centroids stay broadcast-size (nlist ~ sqrt(n)), assignment
    * is map-side, and the candidate join shuffles on `cluster`. */
  /** The broadcast coarse quantizer seed: the `nlist` lowest-id vectors. */
  private def centroidSet(all: DataFrame, nlist: Int): DataFrame =
    broadcast(all.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("c_id"), col("v").as("cv"),
        col("nrm").as("cn")))

  /** `iters` Lloyd refinements of the lowest-`nlist`-id seed — the TRAINED
    * coarse quantizer (round-8 verdict item 1; the loop body is exactly
    * e3_kmeans_iter's proven stage). Each step: broadcast nearest-centroid
    * assignment (one row per vector through the shuffle), then an exact
    * DECIMAL-carrier per-(cluster, dim) mean, so the refined centroids are
    * bit-identical doubles in both engines and the DuckDB oracle replays
    * training verbatim ([[lloydCtes]] unrolls the same chain in SQL).
    * Cluster ids keep their 0..nlist-1 seed identity; a cluster that loses
    * every member drops out in both engines (inner joins throughout). The
    * nlist × dim result is localCheckpoint'd per step so step t+1's scoring
    * (and every downstream consumer) reads a materialized table instead of
    * replaying step t's plan — at scale each step is one bounded job whose
    * output broadcasts. */
  private[queries] def trainedCentroids(all: DataFrame, nlist: Int,
      iters: Int): DataFrame = {
    var cents = centroidSet(all, nlist)
    for (_ <- 1 to iters) {
      val assign = nearestCentroid(all, cents)
      val cent = all.join(assign, "vec_id")
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg((sum(col("x").cast("decimal(27,10)")).cast("double")
          / count(lit(1))).as("c"))
      cents = broadcast(cent.groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("cluster").as("c_id"),
          transform(col("pc"), p => p.getField("c")).as("cv"))
        .withColumn("cn", norm(col("cv")))
        .localCheckpoint(true, graft.operators.Ckpt.SerLevel))
    }
    cents
  }

  /** Train `k` sub-centroids INSIDE each parent cluster of `rows` — the
    * quantizer-refresh half of an IVF hot-list split
    * ([[graft.streaming.AnnStreaming.splitHotLists]]). `rows` is a bounded
    * per-cluster SAMPLE `(vec_id, cluster, v, nrm)` of the hot lists only.
    * Seeds are each cluster's `k` lowest-vec_id sample rows (deterministic);
    * refinement is the same exact-DECIMAL-mean Lloyd step as
    * [[trainedCentroids]], with assignment confined WITHIN the parent
    * cluster (a row only ever competes among its own cluster's
    * sub-centroids). A seed that loses every member drops out (inner
    * joins), so a cluster can legitimately yield fewer than `k` subs.
    * Returns `(parent, sub, cv, cn)` with `sub` in 0..k-1. */
  private[graft] def trainSubCentroids(rows: DataFrame, k: Int,
      iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the window is bounded: `rows` is a per-hot-cluster sample, not a corpus
    val seeded = rows.withColumn("rn",
      row_number().over(Window.partitionBy("cluster").orderBy("vec_id")))
    var cents = broadcast(seeded.filter(col("rn") <= k)
      .select(col("cluster").as("parent"), (col("rn") - 1).cast("long").as("sub"),
        col("v").as("cv"), col("nrm").as("cn"))
      .localCheckpoint(true, graft.operators.Ckpt.SerLevel))
    for (_ <- 1 to iters) {
      val assign = rows.join(cents, col("cluster") === col("parent"))
        .withColumn("c_cos", cosine(col("v"), col("cv"), col("nrm"), col("cn")))
        .groupBy("vec_id", "cluster")
        .agg(max_by(col("sub"), struct(col("c_cos"), -col("sub"))).as("sub"))
      val cent = rows.join(assign, Seq("vec_id", "cluster"))
        .select(col("cluster"), col("sub"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "sub", "pos")
        .agg((sum(col("x").cast("decimal(27,10)")).cast("double")
          / count(lit(1))).as("c"))
      cents = broadcast(cent.groupBy("cluster", "sub")
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("cluster").as("parent"), col("sub"),
          transform(col("pc"), p => p.getField("c")).as("cv"))
        .withColumn("cn", norm(col("cv")))
        .localCheckpoint(true, graft.operators.Ckpt.SerLevel))
    }
    cents
  }

  /** Re-assign posting rows to the nearest of THEIR OWN parent cluster's
    * sub-centroids — the relabel half of the hot-list split. `subCents` is
    * the (tiny, broadcast) `(parent, c_id, cv, cn)` table of freshly-minted
    * global sub-centroid ids; only rows whose `cluster` appears as a parent
    * survive (callers pass hot rows only). One exchange, same max_by shape
    * as [[assignWithVectors]]; ties break to the LOWEST new id. */
  private[graft] def assignWithinParent(rows: DataFrame,
      subCents: DataFrame): DataFrame =
    rows.join(broadcast(subCents), rows("cluster") === subCents("parent"))
      .withColumn("c_cos", cosine(col("v"), col("cv"), col("nrm"), col("cn")))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), struct(col("c_cos"), -col("c_id")))
          .as("cluster"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cluster"))

  /** A trained quantizer behind a build-once parquet artifact: `build`
    * runs ONCE per fixture (the deployment posture — codebooks are trained
    * at index-build time and persisted, never per query), read back
    * broadcast on every subsequent use. Doubles round-trip parquet
    * exactly, so the served values are bit-identical to a fresh training
    * run and the oracle replay stays hash-green; the serving-path cost of
    * the ANN rows is then the probe + re-rank, not the trainer. */
  private def persistedQuantizer(s: SparkSession, dir: String, tag: String)
      (build: => DataFrame): DataFrame =
    broadcast(Tables.persistedArtifact(s, "graft_quantizers",
      Tables.key(dir, Seq("embeddings"), tag))(build))

  /** [[trainedCentroids]] behind [[persistedQuantizer]]. `private[graft]`
    * so the streaming ingest path serves the same artifact as e3_ivf_ann. */
  private[graft] def persistedTrainedCentroids(s: SparkSession, dir: String,
      nlist: Int, iters: Int): DataFrame =
    persistedQuantizer(s, dir, s"ivf-centroids|$nlist|$iters")(
      trainedCentroids(emb(s, dir), nlist, iters))

  /** Shared DuckDB oracle for e3_ivf_ann AND e3_ivf_store (identical
    * results by construction — same trained quantizer, assignment rule, and
    * re-rank; the store row only changes WHERE the posting rows live):
    * replay the 2-iteration Lloyd training, probe 4 lists per query, rerank
    * candidates exactly. */
  private lazy val ivfOracleSql: String =
    s"""$baseCte,
        $assignCte,
        ${lloydCtes(2)},
        probes AS (SELECT vec_id AS q_id, cluster FROM (
          SELECT vec_id, cluster, row_number() OVER (
            PARTITION BY vec_id ORDER BY c_cos DESC, cluster) rn FROM s2
          WHERE vec_id < 50) t WHERE rn <= 4),
        cand AS (SELECT DISTINCT q_id, a2.vec_id
          FROM probes JOIN assign2 a2 USING (cluster)
          WHERE q_id <> a2.vec_id),
        dots AS (SELECT c.q_id, c.vec_id, sum(a.v * b.v) AS dot
          FROM cand c JOIN x a ON a.vec_id = c.q_id
          JOIN x b ON b.vec_id = c.vec_id AND a.i = b.i
          GROUP BY 1, 2),
        scored AS (SELECT q_id, dots.vec_id AS n_id, dot / (na.nrm * nb.nrm) AS cos
          FROM dots JOIN norms na ON q_id = na.vec_id
          JOIN norms nb ON dots.vec_id = nb.vec_id),
        ranked AS (SELECT q_id, n_id, cos, row_number() OVER (
          PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM scored)
        SELECT q_id, rank, n_id, round(cos, 6) AS cos_sim
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank"""

  /** Unrolled-SQL twin of [[trainedCentroids]]: chains `iters` Lloyd CTE
    * blocks on top of the shared seed `assign` CTE ([[assignCte]]) and ends
    * with `assign$iters` / `s$iters` (final assignment + its scored table,
    * for probe selection). */
  private def lloydCtes(iters: Int): String =
    (1 to iters).map { t =>
      val prev = if (t == 1) "assign" else s"assign${t - 1}"
      s"""cent$t AS (SELECT cluster, i,
            CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS c
          FROM x JOIN $prev USING (vec_id) GROUP BY cluster, i),
        cn$t AS (SELECT cluster, sqrt(sum(c * c)) AS cn FROM cent$t
          GROUP BY cluster),
        d$t AS (SELECT x.vec_id, cent$t.cluster, sum(x.v * cent$t.c) AS dot
          FROM x JOIN cent$t ON x.i = cent$t.i GROUP BY 1, 2),
        s$t AS (SELECT d$t.vec_id, d$t.cluster,
            dot / (norms.nrm * cn$t.cn) AS c_cos
          FROM d$t JOIN norms ON d$t.vec_id = norms.vec_id
          JOIN cn$t ON d$t.cluster = cn$t.cluster),
        assign$t AS (SELECT vec_id, cluster FROM (
          SELECT vec_id, cluster, row_number() OVER (
            PARTITION BY vec_id ORDER BY c_cos DESC, cluster) rn FROM s$t) z$t
          WHERE rn = 1)"""
    }.mkString(",\n        ")

  /** Score every row of `df` against every broadcast centroid. */
  private def centScored(df: DataFrame, cents: DataFrame): DataFrame =
    df.crossJoin(cents)
      .withColumn("c_cos", cosine(col("v"), col("cv"), col("nrm"), col("cn")))

  /** Nearest-centroid assignment `(vec_id, cluster)` — a partial-aggregating
    * max_by, so exactly one row per vector crosses the shuffle.
    * `private[graft]` so streaming ingest assigns micro-batches with the
    * identical rule. */
  private[graft] def nearestCentroid(all: DataFrame, cents: DataFrame): DataFrame =
    centScored(all, cents)
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), struct(col("c_cos"), -col("c_id")))
        .as("cluster"))

  /** [[nearestCentroid]] carrying `(v, nrm)` through the SAME single
    * assignment shuffle — the streaming ingest path builds its posting rows
    * in one exchange instead of re-joining the batch on vec_id afterwards.
    * `first` is deterministic here: v/nrm are constant per vec_id. */
  private[graft] def assignWithVectors(all: DataFrame,
      cents: DataFrame): DataFrame =
    centScored(all, cents)
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), struct(col("c_cos"), -col("c_id")))
          .as("cluster"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))

  /** PQ-ADC top-k (see the e3_pq_adc QueryDef comment for the full shape).
    * `refineIters` Lloyd refinements of the lowest-16-id sub-block seed
    * codebook, per sub-space: assign (argmin quantized L2, ties → lowest
    * codeword), re-center on the exact DECIMAL-carrier mean — the same
    * engine-replayable training recipe as [[trainedCentroids]], keyed by
    * (sub-space, codeword) instead of cluster. The codebook stays 128 rows
    * (broadcast at any corpus size); each refinement is one assignment
    * shuffle of 8 code rows/vector plus a tiny mean — at 100 TB training
    * runs on a sample, identical shape. */
  /** Split each 64-dim vector into its 8 PQ sub-blocks
    * `(vec_id, j, sv)` — the input every PQ stage shares. */
  private[graft] def pqSub(all: DataFrame): DataFrame = all
    .select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("j"),
      col("v"))
    .select(col("vec_id"), col("j"),
      slice(col("v"), col("j") * lit(8) + lit(1), lit(8)).as("sv"))

  /** Seed codebook: the lowest-16-id vectors' sub-blocks. */
  private[graft] def pqSeedCb(sub: DataFrame): DataFrame =
    broadcast(sub.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c"), col("j"), col("sv").as("cv")))

  /** Quantized sub-distance of every vector to every codeword (n×8×16
    * rows, map-side through the broadcast join). The l2Micros kernel is
    * codegen'd; bit-identical to the HOF spelling (L2MicrosSpec). */
  private[graft] def pqDistances(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(cb, Seq("j"))
      .select(col("vec_id").as("vid"), col("c"), col("j"),
        l2Micros(col("sv"), col("cv")).as("d"))

  /** Encode: argmin codeword, ties → lowest c, via the packed-long trick. */
  private[graft] def pqEncode(d: DataFrame): DataFrame =
    d.groupBy("vid", "j")
      .agg(pmod(min(col("d") * 16 + col("c")), lit(16L)).as("code"))

  /** The trained (and persisted — see [[persistedQuantizer]]) PQ codebook
    * for `dir`: `refineIters` Lloyd refinements of the seed, per
    * sub-space. Shared by [[pqAdcTopK]] and [[pqDistortionReport]] so the
    * audit measures exactly the codebook serving runs with. */
  private[graft] def pqCodebook(s: SparkSession, dir: String,
      sub: DataFrame, refineIters: Int): DataFrame = {
    def trainCb(iters: Int): DataFrame = {
      var cb = pqSeedCb(sub)
      for (_ <- 1 to iters) {
        val enc = pqEncode(pqDistances(sub, cb))
        cb = broadcast(sub
          .join(enc.withColumnRenamed("vid", "vec_id"), Seq("vec_id", "j"))
          .select(col("j"), col("code"),
            posexplode(col("sv")).as(Seq("pos", "x")))
          .groupBy("j", "code", "pos")
          .agg((sum(col("x").cast("decimal(27,10)")).cast("double")
            / count(lit(1))).as("cd"))
          .groupBy("j", "code")
          .agg(array_sort(collect_list(struct(col("pos"), col("cd")))).as("pc"))
          .select(col("code").as("c"), col("j"),
            transform(col("pc"), p => p.getField("cd")).as("cv"))
          .localCheckpoint(true, graft.operators.Ckpt.SerLevel))
      }
      cb
    }
    if (refineIters == 0) pqSeedCb(sub)
    else persistedQuantizer(s, dir, s"pq-codebook|$refineIters")(
      trainCb(refineIters))
  }

  def pqAdcTopK(s: SparkSession, dir: String,
                refineIters: Int = 1): DataFrame = {
    val all = Tables.embeddings(s, dir)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
    def l2m(a: Column, b: Column): Column = l2Micros(a, b)
    val sub = pqSub(all)
    val cb = pqCodebook(s, dir, sub, refineIters)
    val d = pqDistances(sub, cb)
    val enc = pqEncode(d)
    // ADC lookup: the query-side distance table broadcasts; one integer
    // sum of 8 looked-up terms per (query, doc)
    val qd = d.filter(col("vid") < 10)
      .select(col("vid").as("q_id"), col("c").as("code"), col("j"),
        col("d"))
    val adc = enc.join(broadcast(qd), Seq("j", "code"))
      .filter(col("vid") =!= col("q_id"))
      .groupBy("q_id", "vid")
      .agg(sum("d").as("adc_micros"))
    val short = OrderedOps.topKPerGroup(adc, Seq("q_id"),
      Seq(col("adc_micros").asc, col("vid").asc), k = 20).drop("rank")
    // exact re-rank of the shortlist only (20 candidates/query)
    val qv = all.select(col("vec_id").as("q_id"), col("v").as("qv"))
    val nv = all.select(col("vec_id").as("vid"), col("v").as("nv"))
    val ex = short.join(broadcast(qv.filter(col("q_id") < 10)), Seq("q_id"))
      .join(nv, Seq("vid"))
      .withColumn("l2_micros", l2m(col("qv"), col("nv")))
    OrderedOps.topKPerGroup(ex, Seq("q_id"),
        Seq(col("l2_micros").asc, col("vid").asc), k = 5)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vid").as("n_id"), col("adc_micros"), col("l2_micros"))
      .orderBy("q_id", "rank")
  }

  /** The PQ code table as a PERSISTED artifact: every vector's 8
    * sub-space codeword ids `(vid, j, code)` under the (already
    * persisted) trained codebook — encoding the corpus is index
    * construction, exactly like [[lshIndex]]'s bucket table and the IVF
    * posting store. */
  private[graft] def pqIndex(s: SparkSession, dir: String, sub: DataFrame,
      cb: DataFrame, refineIters: Int): DataFrame =
    Tables.persistedArtifact(s, "graft_pq_index",
      Tables.key(dir, Seq("embeddings"), "pq-enc", refineIters))(
      pqEncode(pqDistances(sub, cb)))

  /** PQ-ADC serving from the PERSISTED codebook + code table: the
    * per-serve cost is the query sub-blocks' 8×16 distance LUT (10
    * queries → 1,280 rows, broadcast), one narrow scan of the code table
    * with the summed lookup, and the exact re-rank of the 20-candidate
    * shortlist — the corpus is re-encoded exactly never. Identical
    * results to [[pqAdcTopK]] (the LUT rows are the same
    * [[pqDistances]] rows, filtered before the explode instead of
    * after): VectorSpec pins byte-parity, and the row shares
    * [[pqOracleSql]], which retrains + re-encodes from scratch in SQL. */
  def pqStoreTopK(s: SparkSession, dir: String,
                  refineIters: Int = 1): DataFrame = {
    val all = Tables.embeddings(s, dir)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
    def l2m(a: Column, b: Column): Column = l2Micros(a, b)
    val cb = pqCodebook(s, dir, pqSub(all), refineIters)
    val enc = pqIndex(s, dir, pqSub(all), cb, refineIters)
    val qd = pqDistances(pqSub(all.filter(col("vec_id") < 10)), cb)
      .select(col("vid").as("q_id"), col("c").as("code"), col("j"),
        col("d"))
    val adc = enc.join(broadcast(qd), Seq("j", "code"))
      .filter(col("vid") =!= col("q_id"))
      .groupBy("q_id", "vid")
      .agg(sum("d").as("adc_micros"))
    val short = OrderedOps.topKPerGroup(adc, Seq("q_id"),
      Seq(col("adc_micros").asc, col("vid").asc), k = 20).drop("rank")
    val qv = all.select(col("vec_id").as("q_id"), col("v").as("qv"))
    val nv = all.select(col("vec_id").as("vid"), col("v").as("nv"))
    val ex = short.join(broadcast(qv.filter(col("q_id") < 10)), Seq("q_id"))
      .join(nv, Seq("vid"))
      .withColumn("l2_micros", l2m(col("qv"), col("nv")))
    OrderedOps.topKPerGroup(ex, Seq("q_id"),
        Seq(col("l2_micros").asc, col("vid").asc), k = 5)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vid").as("n_id"), col("adc_micros"), col("l2_micros"))
      .orderBy("q_id", "rank")
  }

  /** Per-sub-space distortion of a PQ codebook over an arbitrary
    * sub-block table — the codebook-staleness signal (round-16 verdict
    * item 3): `(j, mean_distortion_micros)` where the distortion of a
    * vector in sub-space `j` is its quantized L2 to the NEAREST codeword
    * (exactly what encoding will cost it). Under distribution drift this
    * number rises in the drifted sub-spaces while the codebook stands
    * still — the PQ analog of the IVF list-skew audit, and the input to
    * the retrain-or-not maintenance decision. Means use the exact-DECIMAL
    * carrier so Spark and the DuckDB oracle agree bit-for-bit. One
    * broadcast join + two partial aggregates; no shuffle grows with the
    * corpus beyond the n×8-row encode. */
  private[graft] def pqDistortionOf(sub: DataFrame,
      cb: DataFrame): DataFrame =
    pqDistances(sub, cb)
      .groupBy("vid", "j").agg(min(col("d")).as("qd"))
      .groupBy("j")
      .agg((sum(col("qd").cast("decimal(27,10)")).cast("double")
        / count(lit(1))).as("mean_distortion_micros"))

  /** The retrain-or-not decision input, shaped like
    * [[graft.streaming.AnnStreaming.listSkewAudit]] (per-key ratio +
    * boolean gate at `staleFactor`), but against the codebook's OWN
    * TRAINING-TIME baseline rather than the current population's central
    * tendency: staleness means "this sub-space quantizes worse than it
    * did when the codebook was trained", and a cross-sub-space median
    * cannot say that — after a retrain on a bimodal (drifted) corpus the
    * drifted sub-spaces' distortion is INHERENTLY higher than the
    * others', so a median-relative gate keeps flagging healthy codebooks
    * (measured while building PqDriftSpec: the median gate never
    * converged after retrain). `baseline` is [[pqDistortionOf]] measured
    * at training time over the training corpus — persist it next to the
    * codebook artifact ([[pqBaselineDistortion]] does exactly that) so
    * the audit costs one n×8×16 broadcast-join scan plus an 8-row join.
    * The consolidation-time health check for a PQ index: any `is_stale`
    * row → retrain ([[pqCodebook]] — the artifact key folds the fixture
    * token, so a retrain on refreshed data replaces the artifact and the
    * baseline refreshes with it). PqDriftSpec drives the full loop on a
    * drifted fixture: clean → drift flags exactly the shifted sub-spaces
    * → retrain → clean. */
  def pqDriftAudit(sub: DataFrame, cb: DataFrame, baseline: DataFrame,
      staleFactor: Double = 4.0): DataFrame = {
    val base = baseline.select(col("j"),
      col("mean_distortion_micros").as("baseline_distortion_micros"))
    pqDistortionOf(sub, cb).join(broadcast(base), Seq("j"))
      .withColumn("ratio",
        col("mean_distortion_micros") / col("baseline_distortion_micros"))
      .withColumn("is_stale", col("ratio") > staleFactor)
      .select(col("j"), col("mean_distortion_micros"),
        col("baseline_distortion_micros"), col("ratio"), col("is_stale"))
  }

  /** The training-time distortion baseline for `dir`'s persisted codebook,
    * itself persisted — measured once, read back on every audit. 8 rows. */
  def pqBaselineDistortion(s: SparkSession, dir: String,
      refineIters: Int = 1): DataFrame = {
    lazy val sub = pqSub(Tables.embeddings(s, dir)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v")))
    broadcast(Tables.persistedArtifact(s, "graft_pqbase",
      Tables.key(dir, Seq("embeddings"), "pq-baseline", refineIters))(
      pqDistortionOf(sub, pqCodebook(s, dir, sub, refineIters))))
  }

  /** The PQ drift audit as a driver row: per sub-space, (a) the mean
    * encoding distortion of the SERVING codebook ([[pqDistortionOf]] over
    * the same persisted codebook e3_pq_adc serves with), and (b) the mean
    * signed ADC-vs-exact error over the e3_pq_adc query set — how far the
    * lookup-table distance drifts from the true sub-L2 it stands in for.
    * ADC error decomposes exactly by sub-space (the ADC sum is a sum of
    * per-sub-space table lookups), so a stale sub-space's contribution is
    * visible in isolation. All arithmetic is micro-quantized longs with
    * exact-DECIMAL means → fully oracle-replayable. */
  def pqDistortionReport(s: SparkSession, dir: String,
      refineIters: Int = 1): DataFrame = {
    val all = Tables.embeddings(s, dir)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
    val sub = pqSub(all)
    val cb = pqCodebook(s, dir, sub, refineIters)
    val d = pqDistances(sub, cb)
    val dist = pqDistortionOf(sub, cb)
    // per-(query, doc, sub-space) ADC term vs exact sub-L2: docs carry
    // their code, the query side's 10×8×16 distance table and 10×8
    // sub-blocks broadcast — the expansion is map-side, no big-big join
    val enc = pqEncode(d)
    val qd = d.filter(col("vid") < 10)
      .select(col("vid").as("q_id"), col("c").as("code"), col("j"),
        col("d").as("adc"))
    val qsub = sub.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("j"), col("sv").as("qsv"))
    val err = sub
      .join(enc.withColumnRenamed("vid", "vec_id"), Seq("vec_id", "j"))
      .join(broadcast(qd), Seq("j", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(qsub), Seq("q_id", "j"))
      .withColumn("err", col("adc") - l2Micros(col("qsv"), col("sv")))
      .groupBy("j")
      .agg((sum(col("err").cast("decimal(27,10)")).cast("double")
        / count(lit(1))).as("mean_adc_err_micros"))
    dist.join(err, Seq("j"))
      .select(col("j").cast("long").as("subspace"),
        round(col("mean_distortion_micros"), 6).as("mean_distortion_micros"),
        round(col("mean_adc_err_micros"), 6).as("mean_adc_err_micros"))
      .orderBy("subspace")
  }

  def ivfAnnTopK(s: SparkSession, dir: String, nQueries: Int, k: Int,
                 nlist: Int = 16, nprobe: Int = 4,
                 trainIters: Int = 0): DataFrame = {
    val all = emb(s, dir)
    val cents = if (trainIters == 0) centroidSet(all, nlist)
                else persistedTrainedCentroids(s, dir, nlist, trainIters)
    val assign = nearestCentroid(all, cents)
    ivfServeTopK(emb(s, dir), cents, assign, nQueries, k, nprobe)
  }

  /** The IVF SERVING path alone: probe the `nprobe` nearest centroids per
    * query, candidate-join the inverted lists (`assign`), exact-rerank the
    * candidates. Factored out of [[ivfAnnTopK]] so a maintained index — an
    * `assign` posting store kept current by streaming ingest
    * ([[graft.streaming.AnnStreaming]]) — serves queries through the
    * IDENTICAL plan as the from-scratch batch build; the parity spec holds
    * the two byte-equal. `base` must carry `(vec_id, v, nrm)` for every
    * indexed vector (queries are the `vec_id < nQueries` subset). */
  private[graft] def ivfServeTopK(base: DataFrame, cents: DataFrame,
      assign: DataFrame, nQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val probeTop = OrderedOps.topKPerGroup(
        centScored(base.filter(col("vec_id") < nQueries), cents),
        Seq("vec_id"), Seq(col("c_cos").desc, col("c_id")), nprobe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cluster"))
    val candIds = probeTop.join(assign, Seq("cluster"))
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "vec_id").dropDuplicates("q_id", "vec_id")
    // candidate vectors first, query vectors via filtered broadcast — the
    // lshAnnTopK re-rank fix (see there); identical result set
    val scored = candIds
      .join(base, Seq("vec_id"))
      .join(broadcast(base.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))), Seq("q_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn"), col("nrm")))
    OrderedOps.topKPerGroup(scored, Seq("q_id"),
        Seq(col("cos").desc, col("vec_id")), k)
      .withColumn("rank", col("rank").cast("long"))
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** Schema of the on-disk posting store (explicit so the partition column
    * `cluster` reads back as LONG instead of the inferred INT — hive-style
    * partition values are strings on disk). `private[graft]` so the
    * streaming append sink writes rows under the identical contract. */
  private[graft] val postingStoreSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
    org.apache.spark.sql.types.StructField("nrm",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("cluster",
      org.apache.spark.sql.types.LongType)))

  /** The IVF index as it actually lives on disk at scale: posting rows
    * `(vec_id, v, nrm)` partitioned by `cluster`, so each inverted list IS
    * a parquet partition directory. Built once per [[Tables.key]] — the
    * same index-build-time posture as [[persistedQuantizer]] — with
    * the assignment rule shared with the streaming build
    * ([[assignWithVectors]]), and published through the append stream's
    * own landing step as batch −1 (`ingest_batch=-1/cluster=<c>/`): one
    * store layout, whoever wrote it, and the batch's manifest entry is the
    * build's completeness mark. Serving ([[ivfStoreTopK]]) then skips every
    * un-probed list at the FILE level via dynamic partition pruning, which
    * is the property that makes an IVF index pay at 100 TB: nprobe/nlist of
    * the corpus is read, not filtered. */
  private[graft] def postingStorePath(s: SparkSession, dir: String,
      nlist: Int, trainIters: Int): String = {
    val path = Tables.artifactDir("graft_ivf_store",
      Tables.key(dir, Seq("embeddings"), "posting-store", nlist, trainIters))
    graft.streaming.AnnStreaming.landBatch(s, path, -1L)(
      assignWithVectors(emb(s, dir),
        persistedTrainedCentroids(s, dir, nlist, trainIters)))
    path
  }

  /** Serve top-k from the ON-DISK partitioned posting store: probe the
    * nprobe nearest centroids per query (broadcast quantizer, tiny), then
    * join the store ON ITS PARTITION COLUMN with the broadcast probe set —
    * Catalyst inserts a dynamic-partition-pruning filter on the scan, so
    * only the probed lists' files are read (PlanSpec pins the
    * `dynamicpruning` subquery; VectorSpec pins byte-parity with
    * [[ivfAnnTopK]] at equal params). Candidate vectors ride the store row,
    * so the re-rank needs no join back to the corpus — one broadcast-join
    * chain from scan to top-k. */
  def ivfStoreTopK(s: SparkSession, dir: String, nQueries: Int, k: Int,
      nlist: Int = 16, nprobe: Int = 4, trainIters: Int = 2): DataFrame =
    serveFromStorePath(s, postingStorePath(s, dir, nlist, trainIters),
      emb(s, dir).filter(col("vec_id") < nQueries),
      persistedTrainedCentroids(s, dir, nlist, trainIters), k, nprobe)

  /** The partitioned-store serving plan against an explicit store PATH —
    * shared by [[ivfStoreTopK]] (batch-built store) and the streaming
    * append sink's spec (stream-appended store), so both serve through the
    * identical DPP-pruned plan. `queries` must carry
    * `(vec_id, v, nrm)`. The candidate dedup on (q_id, vec_id) also makes
    * serving insensitive to a duplicated posting row — the property that
    * lets an at-least-once append sink serve exact results. */
  private[graft] def serveFromStorePath(s: SparkSession, storePath: String,
      queries: DataFrame, cents: DataFrame, k: Int, nprobe: Int): DataFrame = {
    // committed batches only: readStore enumerates the manifest's explicit
    // ingest_batch directory paths, so that pruning IS the path list and
    // DPP still prunes the cluster partitions below it
    val store = graft.streaming.AnnStreaming.readStore(s, storePath)
    val probeTop = OrderedOps.topKPerGroup(centScored(queries, cents),
        Seq("vec_id"), Seq(col("c_cos").desc, col("c_id")), nprobe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cluster"))
    val cand = store.join(broadcast(probeTop), Seq("cluster"))
      .filter(col("q_id") =!= col("vec_id"))
      .dropDuplicates("q_id", "vec_id")
    val scored = cand
      .join(broadcast(queries.select(col("vec_id").as("q_id"),
        col("v").as("qv"), col("nrm").as("qn"))), Seq("q_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn"), col("nrm")))
    OrderedOps.topKPerGroup(scored, Seq("q_id"),
        Seq(col("cos").desc, col("vec_id")), k)
      .withColumn("rank", col("rank").cast("long"))
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** Multi-table LSH ANN: candidates form only inside a (table, bucket) —
    * the shuffle key — then exact re-rank. */
  def lshAnnTopK(s: SparkSession, dir: String, nQueries: Int,
                 k: Int): DataFrame = {
    val all = emb(s, dir).withColumn("tb",
      explode(lshTableBuckets(col("v"), tables = 8, planesPerTable = 6, dim = 64)))
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("tb"))
    val candIds = broadcast(q).join(all.select(col("vec_id"), col("tb")), Seq("tb"))
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "vec_id").dropDuplicates("q_id", "vec_id")
    val base = emb(s, dir)
    // re-rank: candidate vectors first (the one exchange that must carry
    // the corpus), THEN the query vectors via a broadcast of the
    // nQueries-filtered slice — the r17 plan audit found this tail joining
    // the UNFILTERED corpus on q_id (a q_id can only be < nQueries, but
    // the planner can't know that), which sort-merge-shuffled every
    // vector's 64-double array a second time; the ivf-store/pq/bruteforce
    // tails already broadcast their filtered query side. Inner joins plus
    // a filter that only drops provably-unmatched rows: identical result
    // set (oracle-verified).
    val scored = candIds
      .join(base, Seq("vec_id"))
      .join(broadcast(base.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))), Seq("q_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn"), col("nrm")))
    OrderedOps.topKPerGroup(scored, Seq("q_id"),
        Seq(col("cos").desc, col("vec_id")), k)
      .withColumn("rank", col("rank").cast("long"))
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** The LSH bucket index as a PERSISTED artifact: the corpus-side
    * `(vec_id, tb)` posting table for `tables × planesPerTable` random
    * hyperplanes — the [[postingStorePath]] pattern applied to the LSH
    * method. Hashing the corpus is index CONSTRUCTION, not serving: it
    * runs once per [[Tables.key]] and every later serve reads the
    * two-column posting table back (narrow scan, no plane math). */
  private[graft] def lshIndex(s: SparkSession, dir: String,
      tables: Int = 8, planesPerTable: Int = 6): DataFrame =
    Tables.persistedArtifact(s, "graft_lsh_index", Tables.key(dir,
        Seq("embeddings"), "lsh-index", tables, planesPerTable))(
      emb(s, dir).select(col("vec_id"),
        explode(lshTableBuckets(col("v"), tables, planesPerTable,
          dim = 64)).as("tb")))

  /** Serve multi-table LSH ANN from the PERSISTED bucket index — the
    * e3_ivf_store counterpart for the LSH method, and the reason an LSH
    * index pays at 100 TB: the per-serve cost is a narrow posting-table
    * scan + candidate join + exact re-rank of the candidates, with the
    * corpus re-hashed exactly never. Query buckets ARE index rows
    * (`vec_id < nQueries` — queries are corpus members, same as
    * [[lshAnnTopK]]'s probe side), so results are IDENTICAL to the
    * from-scratch plan: VectorSpec pins byte-parity, and the row shares
    * [[lshAnnOracleSql]], which replays the whole pipeline from scratch
    * in SQL. */
  def lshStoreTopK(s: SparkSession, dir: String, nQueries: Int,
                   k: Int): DataFrame = {
    val idx = lshIndex(s, dir)
    val q = idx.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("tb"))
    val candIds = broadcast(q).join(idx, Seq("tb"))
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "vec_id").dropDuplicates("q_id", "vec_id")
    val base = emb(s, dir)
    // candidate vectors first, query vectors via filtered broadcast — the
    // lshAnnTopK re-rank fix (see there); identical result set
    val scored = candIds
      .join(base, Seq("vec_id"))
      .join(broadcast(base.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))), Seq("q_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn"), col("nrm")))
    OrderedOps.topKPerGroup(scored, Seq("q_id"),
        Seq(col("cos").desc, col("vec_id")), k)
      .withColumn("rank", col("rank").cast("long"))
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** DuckDB replay of [[lshAnnTopK]] (nQueries=50, k=3, 8 tables × 6
    * planes × 64 dims): the splitmix64 hyperplanes are a VALUES literal
    * (every weight rendered in E-notation — a bare decimal literal would be
    * typed DECIMAL and quantized), signatures are per-(vec, table) bit sums
    * with plane p contributing bit p%6 of table p//6, and candidates form
    * only on an exact (table, bucket) match — the same pipeline, so the
    * driver hash-compares it like any deterministic query. */
  /** DuckDB replay of the PQ-ADC pipeline (seed codebook → 1 Lloyd
    * refinement → encode → ADC shortlist → exact-L2 re-rank) — shared by
    * e3_pq_adc and the recall report. */
  /** The PQ training prefix (sub-blocks → seed distances → 1 Lloyd
    * refinement → refined distances d1 + encodings enc1) shared by
    * [[pqOracleSql]] and the distortion-audit oracle. */
  private lazy val pqTrainCtes: String =
    """x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
            unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
        sub AS (SELECT vec_id, (i - 1) // 8 AS j, i, v FROM x),
        d AS (SELECT a.vec_id AS vid, b.vec_id AS c, a.j,
            CAST(sum(CAST(round((a.v - b.v) * (a.v - b.v) * 1000000)
              AS BIGINT)) AS BIGINT) AS d
          FROM sub a JOIN sub b ON a.i = b.i AND b.vec_id < 16
          GROUP BY 1, 2, 3),
        enc AS (SELECT vid, j, c AS code FROM (
            SELECT vid, j, c, row_number() OVER (
              PARTITION BY vid, j ORDER BY d, c) AS rn FROM d) t
          WHERE rn = 1),
        cw1 AS (SELECT e.j, e.code, s.i,
            CAST(sum(CAST(s.v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS c
          FROM sub s JOIN enc e ON s.vec_id = e.vid AND s.j = e.j
          GROUP BY 1, 2, 3),
        d1 AS (SELECT s.vec_id AS vid, c.code AS c, s.j,
            CAST(sum(CAST(round((s.v - c.c) * (s.v - c.c) * 1000000)
              AS BIGINT)) AS BIGINT) AS d
          FROM sub s JOIN cw1 c ON s.j = c.j AND s.i = c.i
          GROUP BY 1, 2, 3),
        enc1 AS (SELECT vid, j, c AS code FROM (
            SELECT vid, j, c, row_number() OVER (
              PARTITION BY vid, j ORDER BY d, c) AS rn FROM d1) t1
          WHERE rn = 1)"""

  private[queries] lazy val pqOracleSql: String =
    s"""WITH $pqTrainCtes,
        adc AS (SELECT q.vid AS q_id, e.vid AS n_id,
            CAST(sum(q.d) AS BIGINT) AS adc_micros
          FROM enc1 e JOIN d1 q ON q.j = e.j AND q.c = e.code
          WHERE q.vid < 10 AND e.vid <> q.vid
          GROUP BY 1, 2),
        short AS (SELECT q_id, n_id, adc_micros FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY adc_micros, n_id) AS rn FROM adc) t WHERE rn <= 20),
        exact AS (SELECT s.q_id, s.n_id, s.adc_micros,
            CAST(sum(CAST(round((a.v - b.v) * (a.v - b.v) * 1000000)
              AS BIGINT)) AS BIGINT) AS l2_micros
          FROM short s JOIN x a ON a.vec_id = s.q_id
          JOIN x b ON b.vec_id = s.n_id AND b.i = a.i
          GROUP BY 1, 2, 3)
        SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY l2_micros, n_id) AS BIGINT) AS rank,
          n_id, adc_micros, l2_micros
        FROM exact QUALIFY rank <= 5 ORDER BY q_id, rank"""

  /** Oracle twin of [[pqDistortionReport]]: replay the 1-refinement PQ
    * training, then per sub-space the exact-DECIMAL mean encoding
    * distortion and the mean signed ADC-vs-exact error over the 10-query
    * pair set. */
  private[queries] lazy val pqDistortionOracleSql: String =
    s"""WITH $pqTrainCtes,
        qdist AS (SELECT vid, j, min(d) AS qd FROM d1 GROUP BY 1, 2),
        dist AS (SELECT j, CAST(sum(CAST(qd AS DECIMAL(27,10)))
            AS DOUBLE) / count(*) AS mean_distortion_micros
          FROM qdist GROUP BY 1),
        l2sub AS (SELECT a.vec_id AS q_id, b.vec_id AS vid, a.j,
            CAST(sum(CAST(round((a.v - b.v) * (a.v - b.v) * 1000000)
              AS BIGINT)) AS BIGINT) AS ex
          FROM sub a JOIN sub b ON a.i = b.i
          WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
          GROUP BY 1, 2, 3),
        errj AS (SELECT e.j,
            CAST(sum(CAST(q.d - l.ex AS DECIMAL(27,10)))
              AS DOUBLE) / count(*) AS mean_adc_err_micros
          FROM enc1 e
          JOIN d1 q ON q.j = e.j AND q.c = e.code
            AND q.vid < 10 AND q.vid <> e.vid
          JOIN l2sub l ON l.q_id = q.vid AND l.vid = e.vid AND l.j = e.j
          GROUP BY 1)
        SELECT d.j AS subspace,
          round(d.mean_distortion_micros, 6) AS mean_distortion_micros,
          round(e.mean_adc_err_micros, 6) AS mean_adc_err_micros
        FROM dist d JOIN errj e ON d.j = e.j ORDER BY subspace"""

  /** Recall@k of every ANN method against its exact ground truth, all
    * recomputed from scratch: brute-force cosine top-3 (50 queries) for
    * lsh/ivf, exact micro-L2 top-5 (10 queries) for pq. Each method's full
    * oracle embeds as a WITH-subquery (DuckDB scopes the inner x/norms
    * over the outer ones). */
  private[queries] lazy val recallOracleSql: String =
    s"""$baseCte,
        dots50 AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
            sum(a.v * b.v) AS dot
          FROM x a JOIN x b ON a.i = b.i
          WHERE a.vec_id < 50 AND a.vec_id <> b.vec_id GROUP BY 1, 2),
        bf3 AS (SELECT q_id, n_id FROM (
            SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
              ORDER BY dot / (na.nrm * nb.nrm) DESC, n_id) AS rn
            FROM dots50 JOIN norms na ON q_id = na.vec_id
            JOIN norms nb ON n_id = nb.vec_id) z
          WHERE rn <= 3),
        l2p AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
            CAST(sum(CAST(round((a.v - b.v) * (a.v - b.v) * 1000000)
              AS BIGINT)) AS BIGINT) AS l2
          FROM x a JOIN x b ON a.i = b.i
          WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id GROUP BY 1, 2),
        bfl2 AS (SELECT q_id, n_id FROM (
            SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
              ORDER BY l2, n_id) AS rn FROM l2p) z2
          WHERE rn <= 5),
        ivf AS (SELECT q_id, n_id FROM ($ivfOracleSql) ivf_full),
        lsh AS (SELECT q_id, n_id FROM ($lshAnnOracleSql) lsh_full),
        pq AS (SELECT q_id, n_id FROM ($pqOracleSql) pq_full),
        report AS (
          SELECT 'ivf_ann' AS method,
            (SELECT count(*) FROM ivf JOIN bf3 USING (q_id, n_id)) AS hits,
            (SELECT count(*) FROM bf3) AS total
          UNION ALL SELECT 'lsh_ann',
            (SELECT count(*) FROM lsh JOIN bf3 USING (q_id, n_id)),
            (SELECT count(*) FROM bf3)
          UNION ALL SELECT 'pq_adc',
            (SELECT count(*) FROM pq JOIN bfl2 USING (q_id, n_id)),
            (SELECT count(*) FROM bfl2))
        SELECT method, hits, total,
          round(CAST(hits AS DOUBLE) / total, 6) AS recall
        FROM report ORDER BY method"""

  private[queries] lazy val lshAnnOracleSql: String = {
    def fmtD(d: Double): String = {
      val s = java.lang.Double.toString(d) // shortest round-trip repr
      if (s.indexOf('E') >= 0) s else s + "E0"
    }
    val planeRows = hyperplanes(8 * 6, 64).zipWithIndex.map { case (w, p) =>
      s"($p, [${w.map(fmtD).mkString(",")}])"
    }.mkString(",\n          ")
    s"""$baseCte,
        planes AS (SELECT * FROM (VALUES $planeRows) pl(p, w)),
        pw AS (SELECT p, CAST(unnest(w) AS DOUBLE) AS wv,
          unnest(generate_series(1, len(w))) AS i FROM planes),
        proj AS (SELECT x.vec_id, pw.p, sum(x.v * pw.wv) AS proj
          FROM x JOIN pw ON x.i = pw.i GROUP BY 1, 2),
        sig AS (SELECT vec_id, p // 6 AS t,
          CAST(sum(CASE WHEN proj > 0 THEN 1 << (p % 6) ELSE 0 END) AS BIGINT) AS b
          FROM proj GROUP BY 1, 2),
        cand AS (SELECT DISTINCT q.vec_id AS q_id, s.vec_id
          FROM sig q JOIN sig s ON q.t = s.t AND q.b = s.b AND s.vec_id <> q.vec_id
          WHERE q.vec_id < 50),
        dots AS (SELECT c.q_id, c.vec_id, sum(a.v * b.v) AS dot
          FROM cand c JOIN x a ON a.vec_id = c.q_id
          JOIN x b ON b.vec_id = c.vec_id AND a.i = b.i GROUP BY 1, 2),
        scored AS (SELECT q_id, dots.vec_id AS n_id, dot / (na.nrm * nb.nrm) AS cos
          FROM dots JOIN norms na ON q_id = na.vec_id
          JOIN norms nb ON dots.vec_id = nb.vec_id),
        ranked AS (SELECT q_id, n_id, cos, row_number() OVER (
          PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM scored)
        SELECT q_id, rank, n_id, round(cos, 6) AS cos_sim
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank"""
  }

  /** Brute-force exact top-k (test baseline for recall measurements). */
  def bruteForceTopK(s: SparkSession, dir: String, nQueries: Int,
                     k: Int): DataFrame = {
    val all = emb(s, dir)
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = broadcast(q).join(all, col("q_id") =!= col("vec_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn"), col("nrm")))
    OrderedOps.topKPerGroup(scored, Seq("q_id"),
        Seq(col("cos").desc, col("vec_id")), k)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

}

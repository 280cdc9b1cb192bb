package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.LshSigs

/** Approximate-nearest-neighbor / similarity search over the
  * `embeddings` table (Array[Float] column) — SURVEY.md §2B E12 and the
  * BASELINE.json training-data mandate.
  *
  * Two paths:
  *  - exact brute force (q30): the correctness baseline. Written as
  *    per-partition top-k + merge (TakeOrdered-style via ranking
  *    window), not a global sort.
  *  - hyperplane LSH (q31/q49): the scale path — bucket join instead
  *    of cross join; candidates reranked with EXACT cosine so emitted
  *    scores are true, only recall is approximate.
  *
  * All dense-numeric kernels are native codegen'd expressions
  * (`vec_dot`, `lsh_sigs` — graft.functions): Catalyst higher-order
  * functions are interpreted and cost ~20× per pair, and a projected
  * signature column gets re-inlined per consumer by CollapseProject
  * (measured 82 s → sub-second on the minhash family in round 1).
  */
object Similarity extends Catalog {

  private val K = 10
  private val NumQueries = 5

  // ---- q156 KMV kernel, shared with the incremental maintenance
  // path (IncrementalDedup.kmvOverlapBatch / streamingKmvOverlap).
  // K-minimum-values signatures are mergeable — kmin(A ∪ B) =
  // kmin(kmin(A) ∪ kmin(B)) — so a per-batch partial signature frame
  // folds into the running index and the merged matrix is
  // bit-identical to the one-shot q156 estimate path. Keeping the
  // hash domain, the signature cut, and the estimator in ONE place is
  // what makes that equality structural rather than coincidental.

  /** q156's hash domain: distinct md5-derived 48-bit 3-word-shingle
    * hashes per source (the q133/q146 portable-hash family).
    */
  private[graft] def kmvShingles(docs: DataFrame): DataFrame =
    // spread before the per-shingle md5 explode (r17); keyed on text,
    // the one column every caller's frame is guaranteed to carry
    Tables.spread(docs, col("text"))
      .select(col("source"), split(lower(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("source"),
        explode(transform(sequence(lit(1), size(col("ws")) - 2),
          i => conv(substring(md5(concat(lit("sv:"),
            array_join(slice(col("ws"), i, lit(3)), " "))), 1, 12),
            16, 10).cast("long"))).as("h"))
      .distinct()

  /** per-source k-minimum-values signature of a (source, h) frame */
  private[graft] def kmvSignature(sh: DataFrame, k: Int): DataFrame =
    sh.withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"))))
      .filter(col("rn") <= k)
      .select(col("source"), col("h"))

  /** all-pairs KMV-union Jaccard estimates from signatures alone:
    * per pair, the k smallest of the two signatures' union, counting
    * how many sit in both — |sources|²·k tiny rows, never
    * corpus-sized.
    */
  private[graft] def kmvOverlapEst(sig: DataFrame, k: Int): DataFrame = {
    val srcs = sig.select(col("source")).distinct()
    val prs = srcs.select(col("source").as("src1"))
      .join(srcs.select(col("source").as("src2")), col("src1") < col("src2"))
    val u = prs.join(sig, sig("source") === prs("src1"))
      .select(col("src1"), col("src2"), col("h"),
        lit(1L).as("in1"), lit(0L).as("in2"))
      .unionByName(
        prs.join(sig, sig("source") === prs("src2"))
          .select(col("src1"), col("src2"), col("h"),
            lit(0L).as("in1"), lit(1L).as("in2")))
      .groupBy(col("src1"), col("src2"), col("h"))
      .agg(max(col("in1")).as("in1"), max(col("in2")).as("in2"))
    u.withColumn("rn", row_number().over(
        Window.partitionBy(col("src1"), col("src2")).orderBy(col("h"))))
      .filter(col("rn") <= k).drop("rn")
      .groupBy(col("src1"), col("src2"))
      .agg(sum(col("in1") * col("in2")).as("m"), count(lit(1)).as("k"))
      .select(col("src1"), col("src2"),
        expr("m * CAST(1000000 AS BIGINT) DIV k").as("est_ppm"))
  }

  /** LSH geometry: `LshTables` × `BitsPerTable` sign-random
    * hyperplanes, components ±1 from MurmurHash3 (LshSigs.planeSign —
    * deterministic, no RNG state, survives task retry and resume).
    */
  private val LshTables = 8
  private val BitsPerTable = 6
  private val Dim = 64

  /** q85 SemDeDup threshold: chosen in a wide gap of the within-cell
    * cosine distribution (nearest observed cosines at sf0.001/sf0.01
    * are 0.449/0.472 above and 0.411/0.412 below), so the verdict is
    * stable against last-ulp cross-engine float differences.
    */
  private val SemTau = 0.43

  private def embeddings(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(call_function("vec_dot", col("v"), col("v"))))

  /** cosine similarity of pre-normed rows — native vec_dot kernel */
  private def cosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    call_function("vec_dot", va, vb) / (na * nb)

  /** skinny (vec_id, t, sig) bucket postings: 20 bytes/row through the
    * candidate shuffle — the vectors never travel with the postings.
    * localCheckpoint is the materialization barrier so a self-join's
    * two sides share ONE signature computation (mirrors Dedup q27).
    */
  private def buckets(e: DataFrame): DataFrame = {
    // SIZE-GATED spread before the signature kernel (r18): the
    // per-vector plane-dot lsh_sigs evaluations are the expensive
    // per-row work of every LSH consumer, and the checkpoint below
    // feeds every candidate join. Measured: at the 10× blowup the
    // spread cuts q49 29.2 → 3.5 s, while at sf0.1 the corpus is so
    // small the added exchange only costs (+0.1–0.3 s/consumer) — so
    // it engages only when the OPTIMIZER'S SIZE ESTIMATE of this frame
    // (1.04 MB at sf0.1; r18 read ≈ 5.2 MB at the 10× blowup) reaches
    // BucketsSpreadMinBytes (≈ 20k+ vectors). The estimate is a BigInt
    // and is compared as one. The checkpoint itself stays (r17 measured its removal as
    // unstable-negative); only the map work above it spreads.
    val est = e.queryExecution.optimizedPlan.stats.sizeInBytes
    val spread =
      if (est < BigInt(BucketsSpreadMinBytes)) e
      else Tables.spread(e, col("vec_id"))
    spread.select(col("vec_id"),
      posexplode(call_function("lsh_sigs", col("v"),
        lit(LshTables), lit(BitsPerTable))).as(Seq("t", "sig")))
      .localCheckpoint()
  }

  private val BucketsSpreadMinBytes = 2L * 1024 * 1024

  // ---- DuckDB mirror of the lsh_sigs kernel ------------------------
  // The oracle computes the SAME signatures from the same ±1 plane
  // matrix (emitted as literal DOUBLE[] lists), so the q49 comparison
  // verifies the bucketing ALGORITHM end-to-end — no recall assumption.
  // (The corpus has no planted high-cosine pairs — max background
  // cosine ≈0.5–0.6 — so a "recall ≈ 1 vs brute force" oracle is
  // impossible for any sub-quadratic candidate scheme; mirroring the
  // algorithm is the honest exact check.)
  private def planeList(p: Int): String =
    (0 until Dim).map(c => if (LshSigs.planeSign(p, c) > 0) "1" else "-1")
      .mkString("[", ",", "]")

  private def sqlSigExpr(t: Int): String =
    (0 until BitsPerTable).map { r =>
      val bit = 1L << r
      s"(CASE WHEN list_dot_product(v, ${planeList(t * BitsPerTable + r)}::DOUBLE[]) > 0 THEN $bit ELSE 0 END)"
    }.mkString(" + ")

  private def sqlSigCase: String =
    (0 until LshTables).map(t => s"WHEN $t THEN ${sqlSigExpr(t)}")
      .mkString("CASE t ", " ", " END")

  /** buckets()' DuckDB twin as the opening CTEs `e` (vec_id, v, nrm)
    * and `b` (vec_id, t, sig), shared by the q31/q49/q166 oracles */
  private def sqlBucketCtes: String = s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                   FROM embeddings),
        b AS (SELECT vec_id, t, $sqlSigCase AS sig
              FROM e CROSS JOIN (SELECT unnest(generate_series(0, ${LshTables - 1})) AS t))"""

  /** the q31/q51 oracles' closing SELECT: rerankTopK's cut over a
    * `scored` (query_id, neighbor_id, cosine) CTE */
  private def sqlTopKScored: String = s"""SELECT query_id, neighbor_id, cosine, rnk FROM (
          SELECT scored.*,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
        WHERE rnk <= $K"""

  /** IVF-style ANN: a coarse quantizer assigns every corpus vector to
    * its nearest codebook centroid (inverted lists); each query probes
    * only the `nprobe` nearest cells and reranks candidates with the
    * exact cosine. Package-visible so the spec can run it with
    * nprobe = |cells|, where IVF must equal brute force exactly.
    *
    * Codebook here = per-label centroids (q32's aggregation
    * re-assembled into vectors): the same plan shape a k-means
    * codebook would have, with no RNG state to break task retry.
    */
  /** Deterministic coarse codebook: per-label centroids (q32's
    * aggregation re-assembled into vectors) — the same plan shape a
    * k-means codebook would have, with no RNG state to break task
    * retry. Shared by the IVF index (q51) and semantic dedup (q85).
    */
  private def codebook(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")
      .select(col("label").cast("int").as("cell"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      // round through float32 (the pqCodebook/q118 stance): the sums
      // behind avg() are exact doubles only while the embedding
      // exponent spread stays narrow — data-dependent luck. Rounding
      // pins the codebook bit-exactly cross-engine regardless, so an
      // argmax or nprobe cut can never flip on a last-ulp centroid.
      .agg(avg(col("x")).cast("float").cast("double").as("c"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("sc"))
      .select(col("cell"), transform(col("sc"), f => f.getField("c")).as("cv"))
      .withColumn("cnorm", sqrt(call_function("vec_dot", col("cv"), col("cv"))))
      .localCheckpoint() // |cells| rows; feeds every assign branch

  /** corpus → inverted lists: argmax-cosine cell per vector. The
    * scored frame is skinny (vec_id, cell, score); map-side partial
    * max_by collapses the ×|cells| fanout before the shuffle.
    */
  private def assignCells(e: DataFrame, cent: DataFrame): DataFrame =
    e.crossJoin(broadcast(cent))
      .select(col("vec_id"),
        (call_function("vec_dot", col("v"), col("cv")) / col("cnorm")).as("score"),
        col("cell"))
      .groupBy(col("vec_id"))
      // tie-break exact score ties by LOWEST cell (struct compares
      // score first, then -cell), mirroring the q51/q85 oracles'
      // "ORDER BY score DESC, cell" — without it an exact cosine tie
      // picks a nondeterministic cell and can flip a dedup verdict
      .agg(max_by(col("cell"), struct(col("score"), -col("cell"))).as("cell"))

  /** IVF candidate pairs (query_id, vec_id): the inverted lists of
    * each query's `nprobe` nearest cells, self excluded. Split out of
    * [[ivfKnn]] (r17) so q263's probe-budget accounting counts the
    * EXACT set the rerank scores.
    */
  private def ivfCandidates(
      s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val e = embeddings(s, d)
    val cent = codebook(s, d)
    val assigned = assignCells(e, cent)
    // queries → nprobe nearest cells each
    val probes = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .crossJoin(broadcast(cent))
      .withColumn("score",
        call_function("vec_dot", col("qv"), col("cv")) / col("cnorm"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("cell"))))
      .filter(col("r") <= nprobe)
      .select(col("query_id"), col("cell"))
    assigned.join(probes, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
  }

  private[queries] def ivfKnn(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    // candidates = inverted lists of the probed cells; exact rerank
    rerankTopK(ivfCandidates(s, d, nprobe), embeddings(s, d))
  }

  /** exact-cosine top-K of (query_id, vec_id) candidates over `e`'s
    * vectors, the first NumQueries vectors being the queries */
  private def rerankTopK(cand: DataFrame, e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cand
      .join(e.select(col("vec_id"), col("v"), col("norm")), "vec_id")
      .join(broadcast(e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("norm").as("qnorm"))), "query_id")
      .withColumn("cosine", cosine(col("v"), col("qv"), col("norm"), col("qnorm")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= K)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cosine"), col("rnk"))
  }

  // ---- product quantization (q105/q106) ----------------------------

  /** PQ geometry: Dim=64 split into `PqM` subspaces of `PqSubDim` dims.
    * Codebook per subspace = per-label sub-centroids (the q32/q51
    * deterministic-codebook stance: same plan shape as k-means, no RNG
    * state to break task retry) — so codes are digits in [0, |labels|).
    */
  private val PqM = 8
  private val PqSubDim = Dim / PqM

  /** (cell, sub, cv): the PqM sub-codebooks. |labels|×PqM rows of
    * PqSubDim doubles — broadcast-sized at any corpus scale.
    *
    * Centroids are rounded through float32 (the standard served-ANN
    * codebook dtype) — which is also the cross-engine determinism
    * guard: Spark and DuckDB may disagree on `avg` in the last double
    * ulp (different partial-sum order), and md5-over-codes turns any
    * argmin flip into a hard mismatch; float32 rounding absorbs
    * ulp-level differences on both sides (q85's τ-gap stance, made
    * unconditional).
    */
  private[queries] def pqCodebook(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")
      .select(col("label").cast("int").as("cell"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      // round through float32 (the pqCodebook/q118 stance): the sums
      // behind avg() are exact doubles only while the embedding
      // exponent spread stays narrow — data-dependent luck. Rounding
      // pins the codebook bit-exactly cross-engine regardless, so an
      // argmax or nprobe cut can never flip on a last-ulp centroid.
      .agg(avg(col("x")).cast("float").cast("double").as("c"))
      .groupBy(col("cell"), (col("dim") / PqSubDim).cast("int").as("sub"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("sc"))
      .select(col("cell"), col("sub"),
        transform(col("sc"),
          f => f.getField("c").cast("float").cast("double")).as("cv"))
      .localCheckpoint()

  /** corpus → (vec_id, codes, deq): per-sub argmin-L2 codeword
    * (tie → lowest cell) and the concatenated reconstruction. The
    * fanout rows carry PqSubDim-dim SLICES, never the full vector —
    * at 100 TB the ×(|labels|·PqM) candidate stream is 64 bytes wide.
    */
  private[queries] def pqEncode(e: DataFrame, cents: DataFrame): DataFrame = {
    val slices = e.select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(PqM - 1)),
          m => slice(col("v"), m * PqSubDim + 1, lit(PqSubDim)))).as(Seq("sub", "xs")))
    // diff lands in its own projection: CSE skips lambda-bearing
    // expressions, so vec_dot(zip_with(..), zip_with(..)) would run
    // the zip twice per row (q79's stance)
    val scored = slices.join(broadcast(cents), "sub")
      .select(col("vec_id"), col("sub"), col("cell"), col("cv"),
        zip_with(col("xs"), col("cv"), (a, b) => a - b).as("dxs"))
      .select(col("vec_id"), col("sub"), col("cell"), col("cv"),
        call_function("vec_dot", col("dxs"), col("dxs")).as("dist"))
    scored
      .groupBy(col("vec_id"), col("sub"))
      // argmin with the oracle's tie order (dist ASC, cell ASC)
      .agg(min_by(struct(col("cell"), col("cv")),
        struct(col("dist"), col("cell"))).as("pick"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub"),
        col("pick.cell").as("cell"), col("pick.cv").as("cv")))).as("ps"))
      .select(col("vec_id"),
        transform(col("ps"), p => p.getField("cell")).as("codes"),
        flatten(transform(col("ps"), p => p.getField("cv"))).as("deq"))
  }

  // DuckDB mirror CTEs shared by the q105/q106 oracles: identical
  // centroid arithmetic (q32's avg hash-matches cross-engine), slice
  // subtraction and sequential dot product (vec_dot ≡
  // list_dot_product, q79's stance), same (dist, cell) tie order.
  private def pqSqlCtes: String = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    ex AS (SELECT CAST(label AS INT) AS cell,
                  unnest(generate_series(0, len(embedding) - 1)) AS dim,
                  unnest(embedding::DOUBLE[]) AS v
           FROM embeddings),
    cd AS (SELECT cell, dim,
                  CAST(CAST(avg(v) AS FLOAT) AS DOUBLE) AS c
           FROM ex GROUP BY 1, 2),
    cent AS (SELECT cell, CAST(dim // $PqSubDim AS INT) AS sub,
                    list(c ORDER BY dim) AS cv
             FROM cd GROUP BY cell, CAST(dim // $PqSubDim AS INT)),
    enc AS (SELECT e.vec_id, cent.sub, cent.cell, cent.cv,
                   list_dot_product(
                     list_transform(generate_series(1, $PqSubDim),
                       i -> x[cent.sub * $PqSubDim + i] - cv[i]),
                     list_transform(generate_series(1, $PqSubDim),
                       i -> x[cent.sub * $PqSubDim + i] - cv[i])) AS dist
            FROM e CROSS JOIN cent),
    pick AS (SELECT vec_id, sub, cell, cv FROM
              (SELECT enc.*, row_number() OVER (PARTITION BY vec_id, sub
                 ORDER BY dist, cell) AS r FROM enc)
             WHERE r = 1),
    asm AS (SELECT vec_id, list(cell ORDER BY sub) AS codes,
                   flatten(list(cv ORDER BY sub)) AS deq
            FROM pick GROUP BY vec_id)"""

  /** the embeddings CTE every mirror-oracle in this family opens with
    * (vectors as doubles + their norm) — ONE spelling (r17)
    */
  private val EmbSqlCte: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                   FROM embeddings)"""

  /** q51's coarse-quantizer CTEs (per-label centroid codebook →
    * argmax-assigned inverted lists → each query's nprobe cells),
    * shared VERBATIM with q263's budget/recall accounting so the two
    * can never drift (expects `e` = [[EmbSqlCte]] in scope)
    */
  private def ivfSqlCtes(nprobe: Int): String = s"""ex AS (SELECT CAST(label AS INT) AS cell,
                      unnest(generate_series(0, len(embedding) - 1)) AS dim,
                      unnest(embedding::DOUBLE[]) AS x
               FROM embeddings),
        cd AS (SELECT cell, dim, CAST(CAST(avg(x) AS FLOAT) AS DOUBLE) AS c FROM ex GROUP BY 1, 2),
        cent0 AS (SELECT cell, list(c ORDER BY dim) AS cv FROM cd GROUP BY cell),
        cent AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM cent0),
        assigned AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, cent.cell,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   list_dot_product(e.v, cent.cv) / cent.cnorm DESC, cent.cell) AS r
          FROM e CROSS JOIN cent) WHERE r = 1),
        probes AS (SELECT query_id, cell FROM (
          SELECT e.vec_id AS query_id, cent.cell,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   list_dot_product(e.v, cent.cv) / cent.cnorm DESC, cent.cell) AS r
          FROM e CROSS JOIN cent WHERE e.vec_id < $NumQueries) WHERE r <= $nprobe)"""

  // ---- graph ANN: deterministic two-layer NSW (q261/q263, r17) ------
  // The HNSW-class family beside IVF/PQ/LSH (VERDICT r16 item 3): a
  // navigable-small-world kNN graph whose construction and search are
  // BOTH deterministic and mirrorable, so the driver hash gates the
  // whole operator, not a recall bound. Construction: LSH cobucket
  // candidates (q49's geometry — bucketed, never all-pairs) → per-node
  // top-M by exact cosine → symmetrized adjacency; a sparse upper
  // layer over the md5-seeded node subset (HNSW's geometric level
  // draw with the RNG replaced by the q133 portable-hash family, so
  // the index is replayable under task retry and rebuild); entry =
  // the hash-minimal upper node. Search: greedy descent on the upper
  // layer, then synchronous beam rounds on the base layer — fixed
  // hop counts rather than converge-until-done, which keeps the plan
  // static and the DuckDB twin an unrolled CTE chain (kcenterSql's
  // stance).
  // Parameters tuned against q263's own accounting at test SF: with
  // M=12 + one NN-descent round + ef=6 the search touches 614
  // candidates for 32/50 ground-truth hits vs IVF nprobe=3's 762 for
  // 24 — the portfolio gate (recall >= IVF at <= its budget) holds
  // with margin on BOTH axes, and PipelineCatalogsSpec pins it.
  private val GraphM = 12        // base out-degree before symmetrize
  private val GraphUpperM = 4    // upper out-degree before symmetrize
  private val GraphUpperMod = 8  // P(level >= 1) = 1/8, md5-seeded
  private val GraphEf = 6        // beam width (the search budget knob)
  private val GraphBeamHops = 3  // base-layer beam rounds
  private val GraphGreedyHops = 2 // upper-layer descent hops

  /** the q133-family portable 48-bit hash that replaces HNSW's RNG
    * level draw — same value in both engines, no seed state
    */
  private def graphLevelHash(c: Column): Column =
    conv(substring(md5(concat(lit("gl:"), c.cast("string"))), 1, 12), 16, 10)
      .cast("long")

  /** LSH cobucket candidate pairs, BOTH directions (each node sees the
    * candidates of every bucket it occupies) — the q49 bucket join on
    * skinny postings, never an all-pairs product
    */
  private def cobucketPairs(b: DataFrame): DataFrame =
    b.as("a").join(b.as("b2"),
        col("a.t") === col("b2.t") && col("a.sig") === col("b2.sig") &&
        col("a.vec_id") =!= col("b2.vec_id"))
      .select(col("a.vec_id").as("src"), col("b2.vec_id").as("dst"))
      .dropDuplicates("src", "dst")

  /** exact cosine for a (src, dst) candidate-pair frame — the ONLY
    * place graph construction pays corpus-vector evaluations, which
    * is what makes the scored frame the right PERSISTED artifact:
    * maintenance folds new scores in and never re-pays old ones
    * (q264's contract)
    */
  private[queries] def nswScorePairs(e: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(e.select(col("vec_id").as("src"), col("v").as("sv"),
        col("norm").as("sn")), "src")
      .join(e.select(col("vec_id").as("dst"), col("v").as("dv"),
        col("norm").as("dn")), "dst")
      .select(col("src"), col("dst"),
        (call_function("vec_dot", col("sv"), col("dv")) / (col("sn") * col("dn")))
          .as("cos"))

  /** per-node top-m (ties → lowest dst) over an ALREADY-SCORED pair
    * frame, symmetrized: an edge survives if EITHER endpoint kept it,
    * so greedy search can always walk back out of a kept edge — the
    * NSW navigability move. Pure id/score algebra — zero vector
    * evaluations.
    */
  private def symTopM(scored: DataFrame, m: Int): DataFrame = {
    val topm = scored
      .withColumn("r", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))))
      .filter(col("r") <= m)
      .select(col("src"), col("dst"))
    topm.unionByName(
        topm.select(col("dst").as("src"), col("src").as("dst")))
      .dropDuplicates("src", "dst")
  }

  /** one NN-descent refinement round over a scored candidate frame:
    * neighbor-of-neighbor pairs join the candidate set, and ONLY the
    * genuinely new ones get scored (existing candidates keep their
    * staged scores — identical values, recomputation would just pay
    * the vectors again). The standard graph-build repair for
    * candidate-generator misses (a true neighbor the buckets missed
    * is usually a neighbor of a found neighbor), at vector cost
    * bounded by the new-pair count.
    */
  private def nswRefine(e: DataFrame, s0: DataFrame,
      /** true = disk-persist ONLY the fresh-scored leg (r18, guide §5):
        * when s0 is itself already disk-resident (q264's fold), the
        * union's two legs are then both persisted and downstream
        * consumers never recompute a cosine — without paying a second
        * full-index disk write of s0's rows through an outer persist
        * of the union. false (q261) = the caller stages the whole
        * result to parquet and persisting a leg would only double-write.
        */
      persistFresh: Boolean = false): DataFrame = {
    val edges0 = symTopM(s0, GraphM).localCheckpoint()
    val nn2 = edges0.as("x").join(edges0.as("y"),
        col("x.dst") === col("y.src") && col("x.src") =!= col("y.dst"))
      .select(col("x.src").as("src"), col("y.dst").as("dst"))
      .dropDuplicates("src", "dst")
    val fresh = nn2.join(s0.select("src", "dst"), Seq("src", "dst"), "left_anti")
    val scored = nswScorePairs(e, fresh)
    s0.unionByName(
      if (persistFresh)
        scored.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      else scored)
  }

  /** builder-logic cache tag: every CONSTANT that shapes the staged
    * index bytes — degrees, level modulus, AND the LSH candidate
    * geometry (the bucket tables/bits decide which pairs exist at
    * all), so a constant change can never serve a stale graph (the
    * r17 bucketedFrame ADVICE rule). A change to the planeSign
    * KERNEL itself is a builder-logic change too — bump the leading
    * literal by hand for those, as for any build-definition edit.
    */
  private def nswVersion: String =
    s"v2m${GraphM}u${GraphUpperM}d${GraphUpperMod}t${LshTables}b$BitsPerTable"

  /** the base-layer searched set S_hops: (query_id, nid, cos), one
    * row per distinct node the greedy seed + beam rounds ever scored
    * on layer 0 — q261 emits its top-K, q263 counts it as the probe
    * budget (upper-LAYER navigation cosines are excluded by
    * definition; see q263's comment for why that stays a symmetric
    * comparison). `ef` is the knob the contract spec sweeps.
    */
  /** the derived index layers (base adjacency, upper adjacency,
    * entry) from a SCORED candidate frame — pure id/score algebra,
    * shared verbatim by the one-shot build and the incremental fold
    * so the two can only differ through their candidate sets
    */
  private[queries] def probeLayers(e: DataFrame, s1: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = nswLayers(e, s1)

  private def nswLayers(e: DataFrame, s1: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = symTopM(s1, GraphM)
    val up = e.select(col("vec_id"), graphLevelHash(col("vec_id")).as("h"))
      .filter(col("h") % GraphUpperMod === 0)
    val upper = symTopM(
      s1.join(up.select(col("vec_id").as("src")), "src")
        .join(up.select(col("vec_id").as("dst")), "dst"), GraphUpperM)
    val entry = up.orderBy(col("h"), col("vec_id")).limit(1)
      .select(col("vec_id").as("cur"))
    (base, upper, entry)
  }

  private[queries] def nswScored(
      s: SparkSession, d: String, ef: Int = GraphEf): DataFrame = {
    val e = embeddings(s, d)
    // The index is BUILT ONCE per corpus generation and staged as
    // derived parquet (Sources.derivedParquet — the q253 amortization
    // stance): a served ANN index is constructed once and queried
    // many times, so repeated catalog runs must pay lookup cost, not
    // construction cost. The staged artifact is the SCORED candidate
    // frame (src, dst, cos) — the one whose rows cost corpus-vector
    // evaluations — plus the cheap layer frames derived from it; the
    // scored frame is also what incremental maintenance (q264) folds
    // new batches into without re-paying old scores.
    // BOTH candidate frames stage to parquet — at 10x-blowup scale the
    // scored cobucket frame is ~10^8 skinny rows, and a localCheckpoint
    // there pins unevictable deserialized blocks until execution
    // memory starves (measured: UNABLE_TO_ACQUIRE_MEMORY then heap
    // OOM); disk-backed staging costs one write and is reread by
    // every downstream consumer without touching the heap
    val s0 = Sources.derivedParquet(s, d, "nsw_s0", nswVersion)(
      nswScorePairs(e, cobucketPairs(buckets(e))))
    val s1 = Sources.derivedParquet(s, d, "nsw_pairs", nswVersion)(
      nswRefine(e, s0))
    val (baseL, upperL, entry) = nswLayers(e, s1)
    val base = Sources.derivedParquet(s, d, "nsw_base", nswVersion)(baseL)
    val upper = Sources.derivedParquet(s, d, "nsw_upper", nswVersion)(upperL)
    nswSearch(e, base, upper, entry, ef)
  }

  /** the incremental-fold pieces, exposed for the q264 contract spec:
    * the OLD generation's staged scores, the delta-touching scored
    * pairs (the only vector evaluations the fold pays), and the
    * refolded candidate frame the layers derive from
    */
  private[queries] final case class NswIncParts(
      s0Base: DataFrame, deltaScored: DataFrame, s1Full: DataFrame)

  /** q264's delta split: a 5% ingest batch — production-shaped (an
    * index fold handles a small increment, not a third of the corpus)
    * and the knob that keeps the fold's scoring work, which grows
    * with pairs TOUCHING the delta, an order under the full rebuild
    * at every SF including the 10x blowup
    */
  private[queries] def nswIsDelta: Column = col("vec_id") % NswDeltaMod === 2
  private val NswDeltaMod = 20

  private[queries] def nswIncParts(s: SparkSession, d: String): NswIncParts = {
    val e = embeddings(s, d)
    val eB = e.filter(!nswIsDelta)
    // the maintained artifact of the OLD corpus generation: its scored
    // cobucket candidates (pre-refinement — refinement re-derives
    // after every fold, since new nodes re-route neighbor-of-neighbor
    // chains through themselves)
    // the split modulus is part of this artifact's BUILDER LOGIC —
    // fold it into the version tag or a split change silently serves
    // the old base generation's scores (the exact stale-builder class
    // the tag exists to kill; it fired in-session when the fixture
    // batch shrank from 1/3 to 5%)
    val s0Base = Sources.derivedParquet(s, d, "nsw_s0b",
      s"${nswVersion}s$NswDeltaMod")(
      nswScorePairs(eB, cobucketPairs(buckets(eB))))
    // pairs the batch ADDS: postings of the delta bucket-joined
    // against the postings of the grown corpus, both orientations.
    // Disjoint from s0Base by construction (every row touches the
    // delta), so the union below needs no dedup — and the old scores
    // are never recomputed.
    val post = buckets(e)
    val touchD = post.filter(nswIsDelta).as("a").join(post.as("b2"),
        col("a.t") === col("b2.t") && col("a.sig") === col("b2.sig") &&
        col("a.vec_id") =!= col("b2.vec_id"))
      .select(col("a.vec_id").as("src"), col("b2.vec_id").as("dst"))
    val newPairs = touchD.unionByName(
        touchD.select(col("dst").as("src"), col("src").as("dst")))
      .dropDuplicates("src", "dst")
    // the delta scores materialize exactly once, INSIDE the union's
    // DISK_ONLY persist below (r18, guide §5): the old standalone
    // persist on this frame wrote the same delta rows to disk a second
    // time for zero extra reuse in the fold path — the union is this
    // frame's only consumer. (The contract spec's standalone counts
    // over deltaScored recompute the skinny bucket join instead, at
    // sf0.001 cost.) DISK_ONLY, not localCheckpoint, on the union: the
    // fold frames reach ~10% of the corpus's candidate volume and
    // pinned in-memory blocks are what OOM'd the blowup bench (see
    // nswScored).
    val deltaScored = nswScorePairs(e, newPairs)
    // set-identical to the one-shot scored cobucket frame: B-B pairs
    // share buckets independently of the delta (signatures are pure
    // functions of each vector), delta-touching pairs are exactly
    // newPairs, and both score with the same kernel on the same
    // vectors — so every downstream layer is identical by construction.
    // persistFresh: the refinement's new scores disk-persist as their
    // own leg, so s1Full is the union of two persisted frames and the
    // caller never pays a third, full-index write to make it reusable.
    val s1Full = nswRefine(e,
      s0Base.unionByName(deltaScored)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY),
      persistFresh = true)
    NswIncParts(s0Base, deltaScored, s1Full)
  }

  /** q261's search over an index built by the INCREMENTAL fold —
    * returns the same searched-set contract as [[nswScored]]
    */
  private[queries] def nswIncrementalScored(
      s: SparkSession, d: String, ef: Int = GraphEf): DataFrame = {
    val e = embeddings(s, d)
    // no outer persist (r18, guide §5): s1Full is already the union of
    // two DISK_ONLY legs (the fold's staged+delta union and the
    // refinement's fresh scores), so both layer derivations below read
    // persisted rows — the old extra persist re-wrote the entire index
    // to disk once more for no additional reuse
    val s1 = nswIncParts(s, d).s1Full
    val (base, upper, entry) = nswLayers(e, s1)
    // the two layer checkpoints are independent jobs over the same
    // persisted s1 — materialize them concurrently (guide §2.6)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val bF = Future { base.localCheckpoint() }
    val uF = Future { upper.localCheckpoint() }
    nswSearch(e, Await.result(bF, Duration.Inf),
      Await.result(uF, Duration.Inf), entry, ef)
  }

  /** q261/q264's emission: exact top-K of a searched set, self
    * excluded — ONE spelling so the two queries under the shared
    * oracle cannot drift in shape
    */
  private def nswTopK(scored: DataFrame): DataFrame = scored
    .filter(col("nid") =!= col("query_id"))
    .withColumn("rnk", row_number().over(
      Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("nid"))).cast("long"))
    .filter(col("rnk") <= K)
    .select(col("query_id"), col("nid").as("neighbor_id"),
      col("cos").as("cosine"), col("rnk"))

  private def nswSearch(
      e: DataFrame, base: DataFrame, upper: DataFrame,
      entry: DataFrame, ef: Int): DataFrame = {
    val qf = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"))
    // scoring joins BROADCAST THE SMALL SIDE INTO THE BIG ONE — the
    // frontier (<= ef x |queries| rows) ships to the corpus/adjacency
    // partitions, never the reverse, which is the only direction that
    // survives a corpus-sized e/base at 100 TB. Per search hop there
    // is exactly ONE hash exchange (the repartition on query_id):
    // the distinct-aggregate AND the ranking window both reuse it
    // (hash(query_id) satisfies both required distributions), and
    // duplicate (query, node) rows from overlapping frontiers carry
    // identical recomputed cosines, so max() under the dedup is the
    // value UNION-set semantics gives the mirror.
    def score(cand: DataFrame): DataFrame = e
      .select(col("vec_id").as("nid"), col("v"), col("norm"))
      .join(broadcast(cand), "nid")
      .join(broadcast(qf), "query_id")
      .withColumn("cos",
        cosine(col("v"), col("qv"), col("norm"), col("qnorm")))
      .select(col("query_id"), col("nid"), col("cos"))
    def dedupByQuery(scored: DataFrame): DataFrame = scored
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("nid")).agg(max(col("cos")).as("cos"))
    // layer 1: greedy argmax descent from the shared entry (no dedup
    // needed: duplicate candidates tie on (cos, nid) and cannot
    // change the argmax). Each hop's frame — and each beam round's
    // below — materializes via localCheckpoint: `cur`/`scored` feed
    // BOTH branches of the next round (frontier AND union), so an
    // unmaterialized loop doubles the subtree per hop — the q113/q163
    // iterative-lineage stance (measured r17: the 5-hop search plan
    // reached 1,322 operators and re-evaluated early hops 2^hops
    // times; the checkpointed frames are <= ef x |queries| rows).
    var cur = qf.select(col("query_id")).crossJoin(broadcast(entry))
      .localCheckpoint()
    for (_ <- 1 to GraphGreedyHops) {
      val cand = cur.select(col("query_id"), col("cur").as("nid"))
        .unionByName(upper.join(broadcast(cur), col("src") === col("cur"))
          .select(col("query_id"), col("dst").as("nid")))
      cur = score(cand)
        .withColumn("r", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("nid"))))
        .filter(col("r") === 1)
        .select(col("query_id"), col("nid").as("cur"))
        .localCheckpoint()
    }
    // layer 0: synchronous beam rounds; the accumulating union may
    // carry duplicate rows mid-flight — each hop's beam and the final
    // return dedup through ONE query_id exchange
    var scored = score(cur.select(col("query_id"), col("cur").as("nid")))
      .localCheckpoint()
    for (_ <- 1 to GraphBeamHops) {
      val beam = dedupByQuery(scored)
        .withColumn("r", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("nid"))))
        .filter(col("r") <= ef)
        .select(col("query_id"), col("nid"))
      val frontier = base.join(broadcast(beam), col("src") === col("nid"))
        .select(col("query_id"), col("dst").as("nid"))
      scored = scored.unionByName(score(frontier)).localCheckpoint()
    }
    dedupByQuery(scored)
  }

  override def queries: Map[String, Q] = Map(

    // ----- product quantization: encode (ANN compression, q79's twin)
    // Scalar int8 (q79) stores 64 codes/vector at 4× compression; PQ
    // stores PqM=8 subspace codewords — 8 bytes/vector, 64× smaller
    // than the float64 working form. Oracled bit-for-bit: codes via
    // md5 over the digit string, reconstruction error via the same
    // sequential dot product both sides (q79's mirror stance).
    "q105_embedding_pq" -> Q(
      fn = (s, d) => {
        val e = embeddings(s, d)
        pqEncode(e, pqCodebook(s, d))
          .join(e.select(col("vec_id"), col("v")), "vec_id")
          .select(col("vec_id"), col("codes"), col("deq"),
            zip_with(col("v"), col("deq"), (a, b) => a - b).as("diff"))
          .select(col("vec_id"),
            md5(array_join(transform(col("codes"), c => c.cast("string")), ","))
              .as("code_md5"),
            call_function("vec_dot", col("diff"), col("diff")).as("sq_err"))
      },
      sql = Some(s"""
        $pqSqlCtes
        SELECT a.vec_id,
               md5(array_to_string(a.codes, ',')) AS code_md5,
               list_dot_product(
                 list_transform(generate_series(1, len(e.x)), i -> e.x[i] - a.deq[i]),
                 list_transform(generate_series(1, len(e.x)), i -> e.x[i] - a.deq[i])) AS sq_err
        FROM asm a JOIN e USING (vec_id)"""),
      scaleNote = "PQ is the served-index compression path: 8 one-byte codes/vector (64× vs float64) + a broadcast codebook of |labels|×8 sub-centroids; encode is one map pass whose fanout rows carry 8-dim slices, and per-(vec,sub) argmin collapses map-side before the shuffle"),

    // ----- product quantization: ADC k-NN search (q106) -------------
    // Asymmetric distance computation: queries keep exact vectors,
    // corpus is ranked by L2 distance to its PQ reconstruction — the
    // search half of the PQ index. Fully oracled (same reconstruction,
    // same sequential arithmetic, same (dist, vec_id) rank order).
    "q106_knn_pq_adc" -> Q(
      fn = (s, d) => {
        val e = embeddings(s, d)
        val recon = pqEncode(e, pqCodebook(s, d)).select(col("vec_id"), col("deq"))
        val q = e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist"), col("vec_id"))
        recon.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            zip_with(col("qv"), col("deq"), (a, b) => a - b).as("diff"))
          .select(col("query_id"), col("vec_id"),
            call_function("vec_dot", col("diff"), col("diff")).as("adc_dist"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= K)
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            col("adc_dist"), col("rnk"))
      },
      sql = Some(s"""
        $pqSqlCtes
        SELECT query_id, neighbor_id, adc_dist, rnk FROM (
          SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
                 list_dot_product(
                   list_transform(generate_series(1, len(q.x)), i -> q.x[i] - a.deq[i]),
                   list_transform(generate_series(1, len(q.x)), i -> q.x[i] - a.deq[i])) AS adc_dist,
                 CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   list_dot_product(
                     list_transform(generate_series(1, len(q.x)), i -> q.x[i] - a.deq[i]),
                     list_transform(generate_series(1, len(q.x)), i -> q.x[i] - a.deq[i])),
                   a.vec_id) AS BIGINT) AS rnk
          FROM e q JOIN asm a ON a.vec_id <> q.vec_id
          WHERE q.vec_id < $NumQueries)
        WHERE rnk <= $K"""),
      scaleNote = "the PQ search path: queries broadcast against the code table (8 bytes/vector), distances come from reconstructions — at 100 TB the scan reads codes only (64× less I/O than raw vectors), rank-window prunes per-partition top-k before the merge, and exact rerank (q30's join-back shape) fetches raw vectors for finalists only"),

    // ----- IVF coarse-quantizer ANN (codebook scale path) -----------
    "q51_knn_ivf" -> Q(
      fn = (s, d) => ivfKnn(s, d, nprobe = 3),
      // Mirror-oracled at the ALGORITHM level (q85's stance on the
      // identical codebook/assignment arithmetic, q49's on the exact
      // rerank): the twin rebuilds the per-label centroid codebook,
      // assigns every vector to its argmax-score cell with the same
      // (score DESC, cell) tie order, probes the same nprobe=3 cells
      // per query, and reranks with the same sequential dot product —
      // so the nprobe=3 approximation itself is verified hash-exact,
      // not just bounded. PipelineCatalogsSpec additionally asserts
      // nprobe=|cells| ≡ q30 brute force exactly.
      sql = Some(s"""
        WITH $EmbSqlCte,
        ${ivfSqlCtes(3)},
        scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
                          list_dot_product(x.v, q.v) / (x.nrm * q.nrm) AS cosine
                   FROM assigned a JOIN probes p USING (cell)
                        JOIN e x ON x.vec_id = a.vec_id
                        JOIN e q ON q.vec_id = p.query_id
                   WHERE a.vec_id <> p.query_id)
        $sqlTopKScored"""),
      // (the nprobe=3 contract: subset of corpus, true cosines, rank order)
      scaleNote = "inverted-list ANN: corpus scored once against a broadcast codebook (skinny argmax shuffle), queries touch only nprobe cells — candidate count scales with cell occupancy; at 100 TB the inverted lists are the partitioning"),

    // ----- SemDeDup: cluster-scoped semantic dedup ------------------
    // The SemDeDup rule (Abbas et al. 2023): assign every embedding to
    // a coarse cluster, then within each cluster drop any vector whose
    // cosine to a LOWER-id cluster-mate reaches the threshold — the
    // all-pairs search runs per cell, never across the corpus. The
    // oracle recomputes the identical codebook/assignment/verdict in
    // DuckDB (q49's mirror-oracle stance: same arithmetic both sides;
    // τ sits in a wide gap of the within-cell cosine distribution at
    // every test SF, so last-ulp centroid differences cannot flip a
    // verdict).
    "q85_semantic_dedup" -> Q(
      fn = (s, d) => {
        val e = embeddings(s, d)
        val a = assignCells(e, codebook(s, d))
          .join(e, "vec_id") // vec_id, cell, v, norm
          .localCheckpoint() // barrier: assignment computed once, shared by both self-join sides
        val dups = a.as("x")
          .join(a.as("y"),
            col("x.cell") === col("y.cell") && col("y.vec_id") < col("x.vec_id"))
          .filter(cosine(col("x.v"), col("y.v"),
            col("x.norm"), col("y.norm")) >= SemTau)
          .select(col("x.vec_id").as("vec_id")).distinct()
        a.select(col("vec_id"), col("cell"))
          .join(dups.withColumn("d", lit(1L)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell").cast("long").as("cell"),
            coalesce(col("d"), lit(0L)).as("is_dup"))
      },
      sql = Some(s"""
        WITH e AS (SELECT vec_id, CAST(label AS INT) AS lbl,
                          embedding::DOUBLE[] AS v FROM embeddings),
        ex AS (SELECT lbl, unnest(v) AS x, unnest(range(len(v))) AS dim FROM e),
        cd AS (SELECT lbl AS cell, dim, CAST(CAST(avg(x) AS FLOAT) AS DOUBLE) AS c FROM ex GROUP BY 1, 2),
        cent AS (SELECT cell, list(c ORDER BY dim) AS cv FROM cd GROUP BY cell),
        assigned AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, cent.cell,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     list_dot_product(e.v, cent.cv) /
                       sqrt(list_dot_product(cent.cv, cent.cv)) DESC,
                     cent.cell) AS r
            FROM e CROSS JOIN cent) WHERE r = 1),
        a AS (SELECT s.vec_id, s.cell, e.v,
                     sqrt(list_dot_product(e.v, e.v)) AS nrm
              FROM assigned s JOIN e USING (vec_id))
        SELECT x.vec_id, CAST(x.cell AS BIGINT) AS cell,
               CAST(CASE WHEN EXISTS (
                 SELECT 1 FROM a y
                 WHERE y.cell = x.cell AND y.vec_id < x.vec_id
                   AND list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= $SemTau
               ) THEN 1 ELSE 0 END AS BIGINT) AS is_dup
        FROM a x"""),
      scaleNote = "the quadratic pair search is scoped to a cell, so cost is sum(|cell|^2), not |corpus|^2 — cells are the shuffle partitioning and the codebook broadcasts; at 100 TB cell count grows with the corpus to hold |cell| roughly constant (this is SemDeDup's published scaling argument)"),

    // ----- exact top-k cosine search (baseline) ---------------------
    "q30_knn_bruteforce" -> Q(
      fn = (s, d) => {
        val e = embeddings(s, d)
        val q = e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("norm").as("qnorm"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .withColumn("cosine", cosine(col("v"), col("qv"), col("norm"), col("qnorm")))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= K)
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            col("cosine"), col("rnk"))
      },
      sql = Some(s"""
        SELECT query_id, neighbor_id, cosine, rnk FROM (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cosine,
                 CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
                     (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                      sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) DESC,
                   e.vec_id) AS BIGINT) AS rnk
          FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
          WHERE q.vec_id < $NumQueries)
        WHERE rnk <= $K"""),
      scaleNote = "queries broadcast; corpus never shuffles; rank-window prunes to per-partition top-k before the merge (WindowGroupLimit) — 100 TB cost is one scan"),

    // ----- LSH-bucketed ANN (scale path) ----------------------------
    "q31_knn_lsh" -> Q(
      fn = (s, d) => {
        // e is NOT checkpointed: the candidate-side joins re-scan
        // parquet (columnar, pruned) and recompute the native norm —
        // cheaper than materializing the vectors twice. Only the
        // buckets frame needs the barrier (self-joined).
        val e = embeddings(s, d)
        val b = buckets(e)
        val qb = b.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("t"), col("sig"))
        val cand = b.join(qb, Seq("t", "sig"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"))
          .dropDuplicates("query_id", "vec_id")
        rerankTopK(cand, e)
      },
      // Mirror-oracled like q49: the twin computes the SAME plane
      // signatures (literal ±1 matrix), the same bucket equi-join for
      // candidates, and the same exact-cosine rerank with the same
      // (cosine DESC, vec_id) tie order — so the comparison verifies
      // the LSH-kNN ALGORITHM end-to-end, not a recall bound. Cosines
      // are unrounded: vec_dot ≡ list_dot_product sequentially
      // (q29/q49's proven stance), so ranks can't diverge either.
      sql = Some(s"""$sqlBucketCtes,
        qb AS (SELECT vec_id AS query_id, t, sig FROM b
               WHERE vec_id < $NumQueries),
        cand AS (SELECT DISTINCT qb.query_id, b.vec_id
                 FROM b JOIN qb ON b.t = qb.t AND b.sig = qb.sig
                 WHERE b.vec_id <> qb.query_id),
        scored AS (SELECT cand.query_id, cand.vec_id AS neighbor_id,
                          list_dot_product(x.v, q.v) / (x.nrm * q.nrm) AS cosine
                   FROM cand JOIN e x ON x.vec_id = cand.vec_id
                             JOIN e q ON q.vec_id = cand.query_id)
        $sqlTopKScored"""),
      scaleNote = "replaces the cross join with a (table,signature) bucket equi-join over skinny 20-byte postings; signature is one native codegen'd pass; vectors join back only for candidates"),

    // ----- LSH-bucketed near-dup pairs (scale path for q29) ---------
    "q49_embedding_neardup_lsh" -> Q(
      fn = (s, d) => {
        // verify-then-emit: hyperplane buckets generate candidates, the
        // exact cosine decides — emitted pairs carry TRUE similarities.
        // Oracled at the ALGORITHM level: the DuckDB twin computes the
        // same plane signatures (literal ±1 matrix), same bucket join,
        // same verify filter — hash-equal output, not a recall bound.
        // same shape as q31: only the self-joined buckets frame is
        // checkpointed; vector join-backs re-scan the (pruned) parquet
        val e = embeddings(s, d)
        val b = buckets(e)
        val cand = b.as("a").join(b.as("b"),
            col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
            col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("vec1"), col("b.vec_id").as("vec2"))
          .dropDuplicates("vec1", "vec2")
        cand
          .join(e.select(col("vec_id").as("vec1"), col("v").as("v1"),
            col("norm").as("n1")), "vec1")
          .join(e.select(col("vec_id").as("vec2"), col("v").as("v2"),
            col("norm").as("n2")), "vec2")
          .withColumn("cosine",
            call_function("vec_dot", col("v1"), col("v2")) / (col("n1") * col("n2")))
          .filter(col("cosine") >= 0.4)
          .select(col("vec1"), col("vec2"), col("cosine"))
      },
      sql = Some(s"""$sqlBucketCtes,
        cand AS (SELECT DISTINCT a.vec_id AS vec1, c.vec_id AS vec2
                 FROM b a JOIN b c ON a.t = c.t AND a.sig = c.sig AND a.vec_id < c.vec_id)
        SELECT cand.vec1, cand.vec2,
               list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cosine
        FROM cand JOIN e x ON x.vec_id = cand.vec1
                  JOIN e y ON y.vec_id = cand.vec2
        WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.4"""),
      scaleNote = "the 100 TB form of q29: (table,signature) equi-join over skinny postings replaces the O(n²) sweep; candidate count scales with bucket occupancy, not corpus²; vectors rejoin only for candidates"),

    // ----- per-label centroids (embedding aggregation) --------------
    "q32_embedding_centroids" -> Q(
      fn = (s, d) =>
        Tables.load(s, d, "embeddings")
          .select(col("label").cast("long").as("label"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
          .groupBy(col("label"), col("dim").cast("long").as("dim"))
          .agg(avg(col("x")).as("centroid"), count(lit(1)).as("n")),
      sql = Some("""
        SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
               avg(x) AS centroid, count(*) AS n
        FROM (SELECT label,
                     unnest(generate_series(0, len(embedding) - 1)) AS dim,
                     unnest(embedding::DOUBLE[]) AS x
              FROM embeddings)
        GROUP BY 1, 2"""),
      scaleNote = "posexplode fans 64× but partial agg collapses per partition before the shuffle; output is |labels|×dim rows regardless of input size"),

    // ----- int8 scalar quantization (ANN memory compression) --------
    // The storage half of the ANN scale story: per-dimension min/max
    // over the corpus → 8-bit codes (4× smaller than float32, 8× than
    // the double working form), plus the reconstruction error each
    // vector pays. The oracle mirrors the arithmetic step for step —
    // every operation is a correctly-rounded IEEE op on identical
    // doubles, so codes (and the md5 over them) are bit-identical
    // cross-engine (q49's mirror-oracle stance); the error sum goes
    // through vec_dot ≡ list_dot_product (q29's stance).
    "q79_embedding_quantization" -> Q(
      fn = (s, d) => {
        val e = Tables.load(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
        // per-dim bounds: one 64-way partial agg, then ONE row of two
        // arrays broadcast back to the corpus
        val dims = e.select(posexplode(col("x")).as(Seq("i", "v")))
          .groupBy(col("i")).agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
        val bounds = dims
          .agg(array_sort(collect_list(struct(col("i"), col("lo")))).as("plo"),
            array_sort(collect_list(struct(col("i"), col("hi")))).as("phi"))
          .select(transform(col("plo"), p => p.getField("lo")).as("lo"),
            transform(col("phi"), p => p.getField("hi")).as("hi"))
        // each stage lands in its own projection so codes/diff are row
        // attributes: Catalyst's CSE skips lambda-bearing expressions,
        // so repeating the HOF tree would execute it twice per row
        e.crossJoin(broadcast(bounds))
          .select(col("vec_id"), col("x"), col("lo"), col("hi"),
            transform(col("x"), (v, i) => {
              val lo = element_at(col("lo"), i + 1)
              val hi = element_at(col("hi"), i + 1)
              when(hi > lo,
                floor(((v - lo) * lit(255.0)) / (hi - lo)).cast("long"))
                .otherwise(lit(0L))
            }).as("codes"))
          .select(col("vec_id"), col("codes"),
            zip_with(col("x"),
              transform(col("codes"), (c, i) => {
                val lo = element_at(col("lo"), i + 1)
                val hi = element_at(col("hi"), i + 1)
                lo + ((c.cast("double") * (hi - lo)) / lit(255.0))
              }),
              (a, b) => a - b).as("diff"))
          .select(col("vec_id"),
            md5(array_join(transform(col("codes"), c => c.cast("string")), ","))
              .as("code_md5"),
            call_function("vec_dot", col("diff"), col("diff")).as("sq_err"))
      },
      sql = Some("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
        d AS (SELECT i, min(v) AS lo, max(v) AS hi FROM
                (SELECT unnest(x) AS v,
                        unnest(generate_series(1, len(x))) AS i FROM e)
              GROUP BY i),
        b AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM d),
        c AS (SELECT vec_id, x, lo, hi,
                list_transform(x, (v, i) ->
                  CASE WHEN hi[i] > lo[i]
                       THEN CAST(FLOOR(((v - lo[i]) * 255.0) / (hi[i] - lo[i])) AS BIGINT)
                       ELSE 0 END) AS codes
              FROM e CROSS JOIN b),
        r AS (SELECT vec_id, codes,
                list_transform(codes, (cd, i) ->
                  lo[i] + ((CAST(cd AS DOUBLE) * (hi[i] - lo[i])) / 255.0)) AS deq,
                x
              FROM c)
        SELECT vec_id,
               md5(array_to_string(codes, ',')) AS code_md5,
               list_dot_product(
                 list_transform(generate_series(1, len(x)), i -> x[i] - deq[i]),
                 list_transform(generate_series(1, len(x)), i -> x[i] - deq[i])) AS sq_err
        FROM r"""),
      scaleNote = "bounds are a 64-row agg broadcast back as ONE row — the corpus side is a single map pass emitting 64-byte codes instead of 512-byte doubles; at 100 TB the code table (and the bounds pair) IS the served ANN index, with exact rerank fetching raw vectors for finalists only"),

    // ----- q118: Lloyd k-means (semantic clustering) ----------------
    // The unsupervised companion of q32's per-label centroids and the
    // fit step behind q85's SemDeDup cells / q51's IVF lists: seed one
    // centroid per label (min vec_id — deterministic; production
    // seeding is k-means‖ over a sample, same downstream plan), then
    // two Lloyd rounds of assign → recompute, emitting the final
    // assignment + squared L2. Fully oracled bit-for-bit via the
    // q105/q106 stance: recomputed centroids round through float32 (so
    // avg's last-ulp, order-dependent drift can't surface), distances
    // are the same sequential diff dot product (vec_dot ≡
    // list_dot_product), and argmin carries the explicit (dist, cid)
    // tie order.
    "q118_kmeans_lloyd" -> Q(
      fn = (s, d) => {
        val Rounds = 2
        val e = Tables.load(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("x"))
          .localCheckpoint() // one load feeds seeds + every round's assign
        val seeds = e.groupBy(col("label")).agg(min(col("vec_id")).as("cid"))
        val c0 = e.join(seeds, col("vec_id") === col("cid"))
          .select(col("cid"), col("x").as("c"))
        // assign each vector to its nearest centroid; centroids are
        // |k| rows so the candidate stream is a broadcast fanout, and
        // the per-vector argmin collapses map-side (min_by partial agg)
        def assign(cent: DataFrame): DataFrame =
          e.select(col("vec_id"), col("x")).crossJoin(broadcast(cent))
            // diff in its own projection: CSE skips lambda-bearing
            // expressions, so vec_dot(zip_with(..), zip_with(..))
            // would run the zip twice per row (q79's stance)
            .select(col("vec_id"), col("cid"),
              zip_with(col("x"), col("c"), (a, b) => a - b).as("dx"))
            .select(col("vec_id"), col("cid"),
              call_function("vec_dot", col("dx"), col("dx")).as("dist"))
            .groupBy(col("vec_id"))
            .agg(
              min_by(col("cid"), struct(col("dist"), col("cid"))).as("cluster"),
              min(struct(col("dist"), col("cid"))).getField("dist").as("sq_dist"))
        // recompute: per-(cluster, dim) mean over members, rounded
        // through float32, reassembled in dim order
        def recompute(asg: DataFrame): DataFrame =
          asg.join(e, "vec_id")
            .select(col("cluster").as("cid"),
              posexplode(col("x")).as(Seq("dim", "xv")))
            .groupBy(col("cid"), col("dim"))
            .agg(avg(col("xv")).cast("float").cast("double").as("av"))
            .groupBy(col("cid"))
            .agg(array_sort(collect_list(struct(col("dim"), col("av")))).as("ps"))
            .select(col("cid"), transform(col("ps"), p => p.getField("av")).as("c"))
        val fitted = (1 to Rounds).foldLeft(c0)((c, _) => recompute(assign(c)))
        assign(fitted).select(col("vec_id"), col("cluster"), col("sq_dist"))
      },
      sql = Some {
        def dist(c: String) = s"""list_dot_product(
            list_transform(generate_series(1, len(e.x)), i -> e.x[i] - $c.c[i]),
            list_transform(generate_series(1, len(e.x)), i -> e.x[i] - $c.c[i]))"""
        def round(n: Int, cPrev: String) = s"""
          d$n AS (SELECT e.vec_id, $cPrev.cid, ${dist(cPrev)} AS dist
                  FROM e CROSS JOIN $cPrev),
          a$n AS (SELECT vec_id, cid FROM
                   (SELECT d$n.*, row_number() OVER (PARTITION BY vec_id
                      ORDER BY dist, cid) r FROM d$n)
                  WHERE r = 1),
          m$n AS (SELECT a$n.cid, unnest(generate_series(0, len(e.x) - 1)) AS dim,
                         unnest(e.x) AS xv
                  FROM a$n JOIN e USING (vec_id)),
          c$n AS (SELECT cid, list(av ORDER BY dim) AS c FROM
                   (SELECT cid, dim, CAST(CAST(avg(xv) AS FLOAT) AS DOUBLE) AS av
                    FROM m$n GROUP BY cid, dim)
                  GROUP BY cid)"""
        s"""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS x FROM embeddings),
        seeds AS (SELECT min(vec_id) AS cid FROM e GROUP BY label),
        c0 AS (SELECT s.cid, e.x AS c FROM seeds s JOIN e ON e.vec_id = s.cid),
        ${round(1, "c0")},
        ${round(2, "c1")},
        d3 AS (SELECT e.vec_id, c2.cid, ${dist("c2")} AS dist FROM e CROSS JOIN c2)
        SELECT vec_id, cid AS cluster, dist AS sq_dist FROM
         (SELECT d3.*, row_number() OVER (PARTITION BY vec_id
            ORDER BY dist, cid) r FROM d3)
        WHERE r = 1"""
      },
      scaleNote = "each round is two jobs with ONE corpus-wide shuffle between them: assignment is a broadcast fanout of |k| centroids with the argmin collapsing map-side (min_by partial agg — no rank window, no sort), and recompute's posexplode fans ×dim but partial-aggregates to |k|×dim rows before its shuffle (q32's shape). The corpus is never re-partitioned between rounds and centroids never exceed a broadcast; at 100 TB rounds are I/O-bound scans of a cached column — the same iterate-until-stable discipline as ConnectedComponents, with k·dim driver state"),

    // ----- E12: matryoshka prefix energy (truncation quality) -------
    // The serving question behind matryoshka/truncatable embeddings:
    // how much of each vector's L2 mass lives in its first k
    // dimensions — i.e. how lossy is storing/searching a k-dim
    // prefix. Per (label, k): the mean energy-retention ratio. Both
    // engines fold the squares left-to-right over float→double-cast
    // values (Spark `aggregate`, DuckDB list_sum), so the ratios are
    // effectively bit-aligned and the 6-sig-fig gate has nothing to
    // absorb but final-avg association.
    "q131_matryoshka_energy" -> Q(
      fn = (s, d) => {
        val sq = (acc: Column, x: Column) => acc + x * x
        Tables.load(s, d, "embeddings")
          .select(col("label"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
          .withColumn("tot", aggregate(col("v"), lit(0.0), sq))
          .select(col("label"), col("v"), col("tot"),
            explode(array(lit(4), lit(8), lit(16), lit(32))).as("k"))
          .withColumn("pref", aggregate(expr("slice(v, 1, k)"), lit(0.0), sq))
          .groupBy(col("label"), col("k"))
          .agg(count(lit(1)).as("n"),
            avg(col("pref") / col("tot")).as("mean_energy"))
      },
      sql = Some("""
        WITH v AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        t AS (SELECT label, v,
                     list_sum(list_transform(v, x -> x * x)) AS tot
              FROM v),
        e AS (SELECT label, k,
                     list_sum(list_transform(v[1:k], x -> x * x)) / tot AS r
              FROM t, unnest([4, 8, 16, 32]) AS u(k))
        SELECT label, k, count(*) AS n, avg(r) AS mean_energy
        FROM e GROUP BY 1, 2"""),
      scaleNote = "one scan, row-local arithmetic (codegen'd higher-order fold — no UDF), one two-phase agg on (label, k): the ×4 prefix fanout happens before the shuffle but each row carries two doubles, not the vector; the statistic that decides whether the q30/q31 indexes can serve truncated prefixes at a fraction of the memory"),

    // ----- q156: per-source KMV sketch similarity matrix -------------
    // Which SOURCES overlap (shared boilerplate, mirrored crawls)
    // without a corpus-level pair sweep: build one k-minimum-values
    // signature per source over its 3-word-shingle space (k = 64
    // smallest md5-derived 48-bit hashes — the q133/q146 portable-hash
    // family), then estimate every pair's Jaccard from signatures
    // alone: take the k smallest of the two signatures' union and
    // count how many sit in BOTH (the standard KMV-union estimator).
    // The exact per-pair Jaccard rides beside it as the accuracy
    // witness (q143's stance: the sketch is the operator, the exact
    // value gates it). Everything emitted is an exact integer — hash
    // ranks, match counts, ppm ratios — so the DuckDB twin rebuilds
    // the SAME signatures and the estimates hash-match bit-for-bit.
    "q156_source_sketch_overlap" -> Q(
      fn = (s, d) => {
        val Kmv = 64
        val sh = kmvShingles(Tables.load(s, d, "documents"))
          .localCheckpoint() // feeds the signatures AND the exact witness
        val sig = kmvSignature(sh, Kmv)
          .localCheckpoint() // 64 rows/source — the shipped artifact
        val srcs = sig.select(col("source")).distinct()
        val prs = srcs.select(col("source").as("src1"))
          .join(srcs.select(col("source").as("src2")),
            col("src1") < col("src2"))
        val est = kmvOverlapEst(sig, Kmv)
        // exact witness via the posting self-join (|A∩B| per pair, then
        // |A∪B| = szA + szB − |A∩B|): same integers as a union sweep,
        // but the work is one equi-join on the gram hash — no
        // pair-count-times expansion of the full shingle sets (the
        // union-sweep spelling was the suite's slowest query at sf0.1)
        val sz = sh.groupBy(col("source")).agg(count(lit(1)).as("sz"))
        val inter = sh.select(col("source").as("src1"), col("h"))
          .join(sh.select(col("source").as("src2"), col("h")), Seq("h"))
          .filter(col("src1") < col("src2"))
          .groupBy(col("src1"), col("src2")).agg(count(lit(1)).as("inter"))
        val exact = prs
          .join(inter, Seq("src1", "src2"), "left")
          .join(broadcast(sz.withColumnRenamed("source", "src1")
            .withColumnRenamed("sz", "sz1")), Seq("src1"))
          .join(broadcast(sz.withColumnRenamed("source", "src2")
            .withColumnRenamed("sz", "sz2")), Seq("src2"))
          .select(col("src1"), col("src2"),
            expr("coalesce(inter, CAST(0 AS BIGINT))" +
              " * CAST(1000000 AS BIGINT)" +
              " DIV (sz1 + sz2 - coalesce(inter, CAST(0 AS BIGINT)))")
              .as("exact_ppm"))
        est.join(exact, Seq("src1", "src2"))
      },
      sql = Some(s"""
        WITH w AS (SELECT source, string_split(lower(text), ' ') AS ws
                   FROM documents WHERE len(string_split(lower(text), ' ')) >= 3),
        g AS (SELECT source,
                     md5('sv:' || array_to_string(ws[i:i+2], ' ')) AS hh
              FROM w, unnest(generate_series(1, len(ws) - 2)) AS t(i)),
        sh AS MATERIALIZED (
          SELECT DISTINCT source, ${OracleSql.hex48("hh")} AS h FROM g),
        sig AS MATERIALIZED (
          SELECT source, h FROM (
            SELECT source, h, row_number() OVER
              (PARTITION BY source ORDER BY h) AS rn FROM sh)
          WHERE rn <= 64),
        srcs AS (SELECT DISTINCT source FROM sig),
        prs AS (SELECT a.source AS src1, b.source AS src2
                FROM srcs a JOIN srcs b ON a.source < b.source),
        uest AS (SELECT src1, src2, h, max(in1) AS in1, max(in2) AS in2
                 FROM (
                   SELECT p.src1, p.src2, s.h, 1 AS in1, 0 AS in2
                   FROM prs p JOIN sig s ON s.source = p.src1
                   UNION ALL
                   SELECT p.src1, p.src2, s.h, 0, 1
                   FROM prs p JOIN sig s ON s.source = p.src2) u
                 GROUP BY 1, 2, 3),
        kest AS (SELECT src1, src2, in1, in2 FROM (
                   SELECT src1, src2, in1, in2, row_number() OVER
                     (PARTITION BY src1, src2 ORDER BY h) AS rn FROM uest)
                 WHERE rn <= 64),
        est AS (SELECT src1, src2,
                       (CAST(sum(in1 * in2) AS BIGINT)
                          * CAST(1000000 AS BIGINT)) // count(*)
                         AS est_ppm
                FROM kest GROUP BY 1, 2),
        uex AS (SELECT src1, src2, h, max(in1) AS in1, max(in2) AS in2
                FROM (
                  SELECT p.src1, p.src2, s.h, 1 AS in1, 0 AS in2
                  FROM prs p JOIN sh s ON s.source = p.src1
                  UNION ALL
                  SELECT p.src1, p.src2, s.h, 0, 1
                  FROM prs p JOIN sh s ON s.source = p.src2) u
                GROUP BY 1, 2, 3),
        ex AS (SELECT src1, src2,
                      (CAST(sum(in1 * in2) AS BIGINT)
                         * CAST(1000000 AS BIGINT)) // count(*)
                        AS exact_ppm
               FROM uex GROUP BY 1, 2)
        SELECT est.src1, est.src2, est.est_ppm, ex.exact_ppm
        FROM est JOIN ex ON est.src1 = ex.src1 AND est.src2 = ex.src2"""),
      scaleNote = "the corpus is touched ONCE (shingle-hash + per-source distinct, map-side partials); the signature frame is k·8 bytes per source — a mergeable, persistable artifact (new shards fold in by re-ranking, the KMV merge law), and the all-pairs matrix runs on signatures alone: |sources|²·k tiny rows, never corpus-sized. The exact witness sides exist for the GATE at test SF — at 100 TB you ship only the sketch path; PipelineCatalogsSpec pins the estimator error against the exact values"),

    // ----- q161: semantic (embedding-level) leakage audit -----------
    // q159 audits train/eval contamination at the n-gram level; this
    // is its SEMANTIC twin — paraphrased or re-rendered benchmark
    // items share no shingles but sit next to each other in embedding
    // space, so decontamination audits at 100 TB run both. Split:
    // every 20th vec_id is an eval item (deterministic in both
    // engines); per eval item, the nearest TRAIN vector by exact
    // cosine (vec_dot native kernel) with the vec_id tie-break, and a
    // flag at cos ≥ 0.9. The cosine is q30's proven bit-identical
    // emission (identical double-fold on identical inputs); the flag
    // branches on that bit-identical value against an exact literal,
    // the q29/q107 raw-double-branch stance.
    "q161_semantic_leakage" -> Q(
      fn = (s, d) => {
        val e = embeddings(s, d)
        val ev = e.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("eval_id"), col("v").as("qv"),
            col("norm").as("qnorm"))
        val w = Window.partitionBy(col("eval_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        e.filter(col("vec_id") % 20 =!= 0)
          .join(broadcast(ev), col("vec_id") =!= col("eval_id"))
          .withColumn("cosine",
            cosine(col("v"), col("qv"), col("norm"), col("qnorm")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("eval_id"), col("vec_id").as("best_train_id"),
            col("cosine"),
            (col("cosine") >= 0.9).cast("long").as("flagged"))
      },
      sql = Some("""
        SELECT eval_id, best_train_id, cosine,
               CAST(cosine >= 0.9 AS BIGINT) AS flagged
        FROM (
          SELECT q.vec_id AS eval_id, e.vec_id AS best_train_id,
                 list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cosine,
                 row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
                     (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                      sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) DESC,
                   e.vec_id) AS rk
          FROM embeddings q JOIN embeddings e
            ON e.vec_id % 20 <> 0 AND e.vec_id <> q.vec_id
          WHERE q.vec_id % 20 = 0)
        WHERE rk = 1"""),
      scaleNote = "the eval side is benchmark-sized and BROADCASTS (q30/q159 stance), so the 100 TB train corpus streams map-only through one broadcast nested-loop; the per-eval argmax collapses in-shuffle via WindowGroupLimit before the |eval|-row report; at extreme eval sizes the brute pass swaps for q166 (the LSH-bucketed variant of this exact report)"),

    // ----- q166: semantic leakage audit, LSH-bucketed scale path ----
    // q161's 100 TB form: instead of the brute eval × train sweep
    // (quadratic by design at test SF), candidates come from shared
    // hyperplane-LSH buckets (q49's geometry and its algorithm-level
    // oracle mirror), reranked with the EXACT cosine so every emitted
    // similarity is true — only RECALL is approximate, and an eval
    // item whose buckets catch no train vector reports a null best
    // (the honest answer, not a fabricated neighbor). The spec pins
    // the structural contract against q161: a bucketed best is never
    // better than the true argmax, and equality of ids implies
    // bit-equal cosines.
    "q166_semantic_leakage_lsh" -> Q(
      fn = (s, d) => {
        val e = embeddings(s, d)
        val b = buckets(e)
        val evB = b.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("eval_id"), col("t"), col("sig"))
        val trB = b.filter(col("vec_id") % 20 =!= 0)
          .select(col("vec_id").as("train_id"), col("t"), col("sig"))
        val cand = trB.join(evB, Seq("t", "sig"))
          .select(col("eval_id"), col("train_id"))
          .dropDuplicates("eval_id", "train_id")
        val ranked = cand
          .join(e.select(col("vec_id").as("eval_id"), col("v").as("qv"),
            col("norm").as("qn")), "eval_id")
          .join(e.select(col("vec_id").as("train_id"), col("v").as("tv"),
            col("norm").as("tn")), "train_id")
          .withColumn("cosine",
            call_function("vec_dot", col("qv"), col("tv")) /
              (col("qn") * col("tn")))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("eval_id"))
              .orderBy(col("cosine").desc, col("train_id"))))
          .filter(col("rk") === 1)
          .select(col("eval_id"), col("train_id"), col("cosine"))
        e.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("eval_id"))
          .join(ranked, Seq("eval_id"), "left")
          .select(col("eval_id"), col("train_id").as("best_train_id"),
            col("cosine"),
            coalesce((col("cosine") >= 0.9).cast("long"), lit(0L))
              .as("flagged"))
      },
      sql = Some(s"""$sqlBucketCtes,
        cand AS (SELECT DISTINCT ev.vec_id AS eval_id, tr.vec_id AS train_id
                 FROM b ev JOIN b tr ON ev.t = tr.t AND ev.sig = tr.sig
                 WHERE ev.vec_id % 20 = 0 AND tr.vec_id % 20 <> 0),
        ranked AS (
          SELECT eval_id, train_id, cosine FROM (
            SELECT c.eval_id, c.train_id,
                   list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cosine,
                   row_number() OVER (PARTITION BY c.eval_id ORDER BY
                     list_dot_product(x.v, y.v) / (x.nrm * y.nrm) DESC,
                     c.train_id) AS rk
            FROM cand c JOIN e x ON x.vec_id = c.eval_id
                        JOIN e y ON y.vec_id = c.train_id)
          WHERE rk = 1)
        SELECT q.vec_id AS eval_id, r.train_id AS best_train_id,
               r.cosine,
               coalesce(CAST(r.cosine >= 0.9 AS BIGINT), 0) AS flagged
        FROM e q LEFT JOIN ranked r ON r.eval_id = q.vec_id
        WHERE q.vec_id % 20 = 0"""),
      scaleNote = "the audit's scale form: candidates come from a (table, signature) equi-join of skinny postings — cost tracks bucket occupancy, not eval × train — vectors rejoin only for candidates, and the per-eval argmax collapses in-shuffle via WindowGroupLimit; recall tunes with the q31/q49 geometry (more tables → higher recall, same report shape), and the brute q161 stays beside it as the test-SF ground truth"),

    // ----- q163: greedy k-center coreset (diversity selection) ------
    // The diversity-sampling operator the dedup family doesn't give
    // you: near-dup removal deletes REDUNDANCY, k-center selects
    // COVERAGE — the classic farthest-first traversal (Gonzalez 1985,
    // the 2-approximation to the k-center objective; the coreset
    // construction behind diversity-aware data selection, PAPERS.md).
    // Start at the minimum vec_id; each round adds the point FARTHEST
    // from the chosen set (max over the running min squared L2), with
    // vec_id tie-breaks. Each round is ONE aggregate over a running
    // (vec_id, mind) frame against a broadcast 1-row center — the
    // q142/q113 iteration shape. All distances are fixed-order double
    // arithmetic over identical inputs (d² = n2 + cn2 − 2·dot, the
    // native vec_dot fold ≡ DuckDB list_dot_product), so the argmax
    // comparisons are bit-identical cross-engine; the emitted d²
    // rounds to 6 dp.
    "q163_kcenter_coreset" -> Q(
      fn = (s, d) => {
        val Kc = 8
        val e = Tables.load(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          // n2 straight from the dot — a sqrt-then-square round-trip
          // would double-round what the oracle computes exactly
          .withColumn("n2", call_function("vec_dot", col("v"), col("v")))
          .localCheckpoint()
        def dist2(cn2: Column, cv: Column) =
          col("n2") + cn2 - lit(2.0) * call_function("vec_dot", col("v"), cv)
        val c0 = e.orderBy(col("vec_id")).limit(1)
          .select(col("vec_id").as("cid"), col("v").as("cv"),
            col("n2").as("cn2"))
          .localCheckpoint()
        var centers = c0
        var st = e.crossJoin(broadcast(c0))
          .select(col("vec_id"), col("v"), col("n2"),
            dist2(col("cn2"), col("cv")).as("mind"))
          .localCheckpoint()
        for (_ <- 1 until Kc) {
          val next = st.orderBy(col("mind").desc, col("vec_id")).limit(1)
            .select(col("vec_id").as("cid"), col("v").as("cv"),
              col("n2").as("cn2"))
            .localCheckpoint()
          centers = centers.unionByName(next)
          st = st.crossJoin(broadcast(next))
            .select(col("vec_id"), col("v"), col("n2"),
              least(col("mind"), dist2(col("cn2"), col("cv"))).as("mind"))
            .localCheckpoint()
        }
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("dd"), col("cid"))
        e.crossJoin(broadcast(centers))
          .withColumn("dd", dist2(col("cn2"), col("cv")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("vec_id"), col("cid").as("center_id"),
            round(col("dd"), 6).as("d2"))
      },
      sql = Some(kcenterSql(8)),
      scaleNote = "per round: the corpus-sized (vec_id, mind) frame takes ONE broadcast of a 1-row center and one TakeOrdered argmax (per-partition heaps, one row to the driver) — k rounds cost k map-passes and zero data shuffles; the final assignment is one broadcast of the k-row center set with the per-vec argmin collapsing in-shuffle via WindowGroupLimit. At 100 TB the mind frame is the only state (8 bytes/vector beyond the vectors) and persists across rounds; the same loop yields k-means++ seeding by swapping argmax for weighted sampling on the same frame"),

    // ----- graph ANN: two-layer NSW kNN search (q261, r17) -----------
    // Mirror-oracled at the ALGORITHM level like q51: the DuckDB twin
    // rebuilds the identical graph (same plane signatures, same
    // cobucket candidates, same top-M/tie order, same md5 level draw,
    // same entry) and replays the identical greedy + beam schedule as
    // an unrolled CTE chain — so the approximation itself is verified
    // hash-exact, not bounded. PipelineCatalogsSpec adds the contract
    // q263 prices: recall >= the IVF baseline at no more touched
    // candidates, and recall monotone in ef.
    "q261_knn_graph" -> Q(
      fn = (s, d) => nswTopK(nswScored(s, d)),
      sql = Some(NswKnnOracleSql),
      scaleNote = "the production-default ANN class (navigable small-world) beside IVF/PQ/LSH: construction is one bucketed candidate shuffle (q49's skinny-postings geometry — work tracks bucket occupancy, never n²) plus ONE NN-descent refinement round (neighbor-of-neighbor candidates rescored into the top-M at n x degree²-bounded cost — the standard repair for generator misses, worth +8 ground-truth hits at FEWER touched candidates here) and a per-node top-M window; the adjacency is <= 2M integer rows per node and the md5-seeded level draw makes the index a deterministic FUNCTION of the corpus — replayable under task retry, rebuildable shard-by-shard, no RNG state; search costs ef x degree x hops exact-cosine evaluations per query INDEPENDENT of corpus size (IVF's candidate set grows with cell occupancy), each batch hop joining the beam frontier against the hash-partitioned adjacency while the serving form walks the same arrays in memory; fixed hop counts keep the batch plan static and the oracle an unrolled CTE chain — a serving implementation iterates to convergence instead, and q263 prices what the fixed budget costs in recall"),

    // ----- ANN probe-budget vs recall accounting (q263, r17) ---------
    // The q192 calibration stance generalized from LSH banding to
    // search indexes: ONE exact ground truth (brute top-K), and per
    // (method, query) the CORPUS-CANDIDATE budget the method scored
    // plus how much of the true top-K it recovered. The graph side
    // counts the very S_hops frame q261 ranks; the IVF side counts
    // the very candidate set q51's rerank scores (ivfCandidates was
    // split out precisely so this accounting and the rerank can never
    // drift). Index-NAVIGATION work is excluded on both sides by the
    // same rule: the graph's upper-layer greedy cosines (<= greedy
    // hops x (1 + 2*UpperM) per query) don't enter `touched`, exactly
    // as IVF's |cells| centroid probes per query don't — the metric
    // compares corpus-vector evaluations, where the asymptotic cost
    // lives, and stays symmetric about the overhead it drops.
    "q263_ann_budget_recall" -> Q(
      fn = (s, d) => {
        val e = embeddings(s, d)
        val qf = e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("norm").as("qnorm"))
        val wTop = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("nid"))
        // the exact ground truth materializes CONCURRENTLY with the
        // graph search's fixed checkpoint chain (r18, guide §2.6
        // "overlap independent jobs"): the brute-force top-K and the
        // NSW hop jobs share no inputs beyond the corpus scan, and the
        // search's ≤30-row frontier jobs leave the box idle
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val gtFut = Future {
          // spread before the ×|queries| fanout (r18): the
          // |corpus|×|queries| vec_dot NLJ probe is the most expensive
          // per-row work in the whole query
          Tables.spread(e, col("vec_id"))
            .join(broadcast(qf), col("vec_id") =!= col("query_id"))
            .withColumn("cos",
              cosine(col("v"), col("qv"), col("norm"), col("qnorm")))
            .withColumn("rnk", row_number().over(
              Window.partitionBy(col("query_id"))
                .orderBy(col("cos").desc, col("vec_id"))))
            .filter(col("rnk") <= K)
            .select(col("query_id"), col("vec_id").as("nid"))
            .localCheckpoint() // both legs' membership joins read it
        }
        val gfin = nswScored(s, d).filter(col("nid") =!= col("query_id"))
        val gt = Await.result(gtFut, Duration.Inf)
        // ONE pass per method (r18, the r17 report's "fuse the three
        // accountings" note, guide §2.3/§2.4): ground-truth membership
        // rides into each leg as a broadcast left-join BEFORE its
        // ranking window, so touched (all rows), hits (top-K ∩ gt) and
        // recall collapse into one window + one aggregate sharing one
        // query_id exchange — replacing the per-leg localCheckpoint +
        // count-job + window-join-count sub-plan chain. Row sets are
        // unchanged: gt is unique per (query_id, nid), so the left
        // join neither drops nor duplicates leg rows and the window's
        // (cos DESC, nid) order — and therefore every rank — is
        // byte-identical to the checkpointed spelling's.
        val gtB = broadcast(gt.withColumn("is_gt", lit(1L)))
        def legAgg(leg: DataFrame): DataFrame =
          leg.join(gtB, Seq("query_id", "nid"), "left")
            .withColumn("rnk", row_number().over(wTop))
            .groupBy(col("query_id"))
            .agg(count(lit(1)).as("touched"),
              sum(when(col("rnk") <= K && col("is_gt").isNotNull, 1L)
                .otherwise(0L)).as("hits"))
        // the IVF leg keeps counting the EXACT candidate set the q51
        // rerank scores: the inner joins against e/qf cannot drop a
        // candidate (ivfCandidates ⊆ e by construction, every query in
        // qf), so count(*) after them equals the old pre-join count
        val ileg = ivfCandidates(s, d, nprobe = 3)
          .select(col("query_id"), col("vec_id").as("nid"))
          .join(e.select(col("vec_id").as("nid"), col("v"), col("norm")),
            "nid")
          .join(broadcast(qf), "query_id")
          .withColumn("cos",
            cosine(col("v"), col("qv"), col("norm"), col("qnorm")))
          .select(col("query_id"), col("nid"), col("cos"))
        val qs = qf.select(col("query_id"))
        def shape(m: String, agg: DataFrame): DataFrame =
          qs.join(agg, Seq("query_id"), "left")
            .select(lit(m).as("method"), col("query_id"),
              coalesce(col("touched"), lit(0L)).as("touched"),
              coalesce(col("hits"), lit(0L)).as("hits"))
            .withColumn("recall_ppm",
              expr(s"CAST((hits * 1000000) DIV $K AS BIGINT)"))
        shape("graph", legAgg(gfin))
          .unionByName(shape("ivf", legAgg(ileg)))
      },
      sql = Some(s"""
        WITH $EmbSqlCte,
        ${ivfSqlCtes(3)},
        ${nswSqlCtes(GraphEf)},
        gt AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
               SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                      row_number() OVER (PARTITION BY q.vec_id ORDER BY
                        list_dot_product(q.v, x.v) / (q.nrm * x.nrm) DESC,
                        x.vec_id) AS rnk
               FROM e q JOIN e x ON x.vec_id <> q.vec_id
               WHERE q.vec_id < $NumQueries) WHERE rnk <= $K),
        gfin AS (SELECT query_id, nid, cos FROM gs$GraphBeamHops
                 WHERE nid <> query_id),
        gtouch AS (SELECT query_id, count(*) AS touched FROM gfin GROUP BY 1),
        gtop AS (SELECT query_id, nid FROM (
                   SELECT s.query_id, s.nid,
                          row_number() OVER (PARTITION BY s.query_id
                            ORDER BY s.cos DESC, s.nid) AS rnk
                   FROM gfin s) WHERE rnk <= $K),
        ghits AS (SELECT g.query_id, count(*) AS hits
                  FROM gtop g JOIN gt ON gt.query_id = g.query_id
                       AND gt.neighbor_id = g.nid GROUP BY 1),
        ic AS MATERIALIZED (SELECT p.query_id, a.vec_id AS nid
              FROM assigned a JOIN probes p USING (cell)
              WHERE a.vec_id <> p.query_id),
        itouch AS (SELECT query_id, count(*) AS touched FROM ic GROUP BY 1),
        itop AS (SELECT query_id, nid FROM (
                   SELECT ic.query_id, ic.nid,
                          row_number() OVER (PARTITION BY ic.query_id ORDER BY
                            list_dot_product(x.v, q.v) / (x.nrm * q.nrm) DESC,
                            ic.nid) AS rnk
                   FROM ic JOIN e x ON x.vec_id = ic.nid
                        JOIN e q ON q.vec_id = ic.query_id) WHERE rnk <= $K),
        ihits AS (SELECT i.query_id, count(*) AS hits
                  FROM itop i JOIN gt ON gt.query_id = i.query_id
                       AND gt.neighbor_id = i.nid GROUP BY 1)
        SELECT 'graph' AS method, q.query_id,
               CAST(coalesce(t.touched, 0) AS BIGINT) AS touched,
               CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
               CAST((coalesce(h.hits, 0) * 1000000) // $K AS BIGINT)
                 AS recall_ppm
        FROM gqs q LEFT JOIN gtouch t USING (query_id)
             LEFT JOIN ghits h USING (query_id)
        UNION ALL
        SELECT 'ivf' AS method, q.query_id,
               CAST(coalesce(t.touched, 0) AS BIGINT) AS touched,
               CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
               CAST((coalesce(h.hits, 0) * 1000000) // $K AS BIGINT)
                 AS recall_ppm
        FROM gqs q LEFT JOIN itouch t USING (query_id)
             LEFT JOIN ihits h USING (query_id)"""),
      scaleNote = "the decision frame for the ANN portfolio, fully oracled: recall@K and candidates-touched per (method, query) under ONE exact ground truth — at 100 TB the ground truth runs on a query SAMPLE (per-query proportions estimate unbiased, q192's stance), both index paths ARE the registered scale plans, and the portfolio rule the spec pins is what an operator tunes by: the graph must match-or-beat IVF's recall without exceeding its probe budget, with ef as the knob that trades the two (recall monotone in ef — also pinned); the knob is SF-dependent by design — a fixed-ef search budget stays flat as the corpus grows while IVF's probe cost balloons with cell occupancy (at 4x the vectors this frame shows the graph at 673 touched vs IVF's 2982 — 2.4x the recall per touched candidate but lower absolute recall), so the operator answers a growth step by re-tuning ef upward along the pinned monotone curve to the recall target, paying only the budget the target needs"),

    // ----- incremental graph-index maintenance (q264, r17) -----------
    // The IncrementalDedup discipline applied to the NSW index: a
    // production embedding corpus GROWS, and rebuilding the graph per
    // batch re-pays every cosine the index ever scored. The
    // maintained artifact is the SCORED cobucket candidate frame
    // (src, dst, cos): folding a batch adds exactly the
    // delta-touching pairs — postings of the new vectors bucket-joined
    // against the grown corpus, scored once — while every old score
    // is reused from the staged frame byte-for-byte (the sets are
    // provably disjoint: every new pair touches the delta). Because
    // signatures are pure per-vector functions and refinement/layers
    // are deterministic id/score algebra over the candidate SET, the
    // folded index equals the one-shot rebuild EXACTLY — gated three
    // ways: q261's oracle VERBATIM on the search output (the mirror
    // rebuilds from scratch, which IS the owed equality), the spec's
    // frame-level identity incremental ≡ one-shot, and the frugality
    // assertions (old scores untouched, fold scores only
    // delta-touching pairs).
    "q264_knn_graph_incremental" -> Q(
      fn = (s, d) => nswTopK(nswIncrementalScored(s, d)),
      sql = Some(NswKnnOracleSql),
      scaleNote = "index maintenance priced by the BATCH, not the corpus: vector evaluations = delta postings bucket-joined against the grown corpus (work tracks the batch's bucket occupancy) + the refinement chains the new nodes re-route — never a rescore of the persisted frame; the id-only algebra above it (top-M windows, symmetrize, NN-descent joins) is linear in INDEX size with 24-byte rows and no vector payloads, the same cost class as IncrementalDedup's persisted-index merge; the scored candidate frame is mergeable and persistable (new batch => union of disjoint scored sets), deletions drop a node's rows and re-window its former neighbors, and the one-shot q261 build stays the bootstrap — one shared oracle proves fold ≡ rebuild every round")
  )

  /** The DuckDB mirror of the farthest-first loop: identical rounds
    * unrolled as MATERIALIZED CTEs (the logregSql/bpeSqlCtes stance);
    * every distance is spelled in the same op order as the engine's
    * `n2 + cn2 - 2.0 * dot`.
    */
  private def kcenterSql(k: Int): String = {
    def d2(vp: String, cp: String) =
      s"$vp.n2 + $cp.cn2 - CAST(2.0 AS DOUBLE) * list_dot_product($vp.v, $cp.cv)"
    val sb = new StringBuilder
    sb.append("""
        WITH e AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
                   AS n2
          FROM embeddings),
        c0 AS MATERIALIZED (
          SELECT vec_id AS cid, v AS cv, n2 AS cn2
          FROM e ORDER BY vec_id LIMIT 1),
        s0 AS MATERIALIZED (
          SELECT e.vec_id, e.v, e.n2, """ + d2("e", "c") + """ AS mind
          FROM e, c0 c)""")
    for (r <- 1 until k) {
      sb.append(s""",
        c$r AS MATERIALIZED (
          SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM s${r - 1}
          ORDER BY mind DESC, vec_id LIMIT 1),
        s$r AS MATERIALIZED (
          SELECT s.vec_id, s.v, s.n2,
                 least(s.mind, ${d2("s", "c")}) AS mind
          FROM s${r - 1} s, c$r c)""")
    }
    sb.append(s""",
        cs AS (${(0 until k).map(r => s"SELECT cid, cv, cn2 FROM c$r")
          .mkString(" UNION ALL ")})
        SELECT vec_id, center_id, round(d2, 6) AS d2 FROM (
          SELECT e.vec_id, c.cid AS center_id,
                 ${d2("e", "c")} AS d2,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${d2("e", "c")}, c.cid) AS rk
          FROM e, cs c) WHERE rk = 1""")
    sb.toString
  }

  /** The DuckDB mirror of [[nswScored]]: identical graph construction
    * (same plane-signature buckets, same cobucket candidates, same
    * NN-descent refinement round, same top-M/tie order, same md5 level
    * draw and entry) and the identical greedy + beam schedule unrolled
    * as CTEs (kcenterSql's stance).
    * Expects `e` = [[EmbSqlCte]] in scope; emits the final scored set
    * as `gs$GraphBeamHops` and the query spine as `gqs`. Every cosine
    * is the same sequential dot product the engine computes (vec_dot
    * ≡ list_dot_product, q29/q49's proven stance) so set-UNION dedup
    * collapses recomputed rows exactly as dropDuplicates does.
    */
  /** q261 AND q264's oracle — the one-shot build and the incremental
    * fold are two physical answers to one logical index (the
    * q129/q260 shared-oracle stance), so one SQL defines both: the
    * mirror always rebuilds from scratch, which is exactly the
    * equality the incremental fold owes.
    */
  private def NswKnnOracleSql: String = s"""
        WITH $EmbSqlCte,
        ${nswSqlCtes(GraphEf)}
        SELECT query_id, nid AS neighbor_id, cos AS cosine, rnk FROM (
          SELECT s.query_id, s.nid, s.cos,
                 CAST(row_number() OVER (PARTITION BY s.query_id
                   ORDER BY s.cos DESC, s.nid) AS BIGINT) AS rnk
          FROM gs$GraphBeamHops s WHERE s.nid <> s.query_id)
        WHERE rnk <= $K"""

  private def nswSqlCtes(ef: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""gb AS MATERIALIZED (
          SELECT vec_id, t, $sqlSigCase AS sig
          FROM e CROSS JOIN (SELECT unnest(generate_series(0, ${LshTables - 1})) AS t)),
        gcp0 AS MATERIALIZED (
          SELECT DISTINCT a.vec_id AS src, b2.vec_id AS dst
          FROM gb a JOIN gb b2 ON a.t = b2.t AND a.sig = b2.sig
           AND a.vec_id <> b2.vec_id),
        ges0 AS (SELECT gcp0.src, gcp0.dst,
                        list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cos
                 FROM gcp0 JOIN e x ON x.vec_id = gcp0.src
                           JOIN e y ON y.vec_id = gcp0.dst),
        getop0 AS (SELECT src, dst FROM (
                     SELECT ges0.*, row_number() OVER (PARTITION BY src
                       ORDER BY cos DESC, dst) AS r FROM ges0)
                   WHERE r <= $GraphM),
        gedge0 AS MATERIALIZED (
          SELECT src, dst FROM getop0 UNION SELECT dst, src FROM getop0),
        gcp AS MATERIALIZED (
          SELECT src, dst FROM gcp0
          UNION
          SELECT x.src, y.dst FROM gedge0 x JOIN gedge0 y
            ON x.dst = y.src AND x.src <> y.dst),
        ges AS (SELECT gcp.src, gcp.dst,
                       list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cos
                FROM gcp JOIN e x ON x.vec_id = gcp.src
                         JOIN e y ON y.vec_id = gcp.dst),
        getop AS (SELECT src, dst FROM (
                    SELECT ges.*, row_number() OVER (PARTITION BY src
                      ORDER BY cos DESC, dst) AS r FROM ges)
                  WHERE r <= $GraphM),
        gedge AS MATERIALIZED (
          SELECT src, dst FROM getop UNION SELECT dst, src FROM getop),
        gup AS (SELECT vec_id, h FROM (
                  SELECT vec_id,
                         ${OracleSql.hex48("md5('gl:' || vec_id)")} AS h
                  FROM e)
                WHERE h % $GraphUpperMod = 0),
        gucp AS (SELECT gcp.src, gcp.dst FROM gcp
                  JOIN gup u1 ON u1.vec_id = gcp.src
                  JOIN gup u2 ON u2.vec_id = gcp.dst),
        gues AS (SELECT gucp.src, gucp.dst,
                        list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cos
                 FROM gucp JOIN e x ON x.vec_id = gucp.src
                           JOIN e y ON y.vec_id = gucp.dst),
        gutop AS (SELECT src, dst FROM (
                    SELECT gues.*, row_number() OVER (PARTITION BY src
                      ORDER BY cos DESC, dst) AS r FROM gues)
                  WHERE r <= $GraphUpperM),
        guedge AS MATERIALIZED (
          SELECT src, dst FROM gutop UNION SELECT dst, src FROM gutop),
        gentry AS (SELECT vec_id AS cur FROM gup ORDER BY h, vec_id LIMIT 1),
        gqs AS (SELECT vec_id AS query_id FROM e WHERE vec_id < $NumQueries),
        gg0 AS (SELECT query_id, cur FROM gqs CROSS JOIN gentry)""")
    for (i <- 1 to GraphGreedyHops) {
      sb.append(s""",
        gg${i}c AS (SELECT query_id, cur AS nid FROM gg${i - 1}
                    UNION
                    SELECT g.query_id, u.dst FROM gg${i - 1} g
                    JOIN guedge u ON u.src = g.cur),
        gg$i AS (SELECT query_id, nid AS cur FROM (
                   SELECT c.query_id, c.nid,
                          row_number() OVER (PARTITION BY c.query_id ORDER BY
                            list_dot_product(x.v, q.v) / (x.nrm * q.nrm) DESC,
                            c.nid) AS r
                   FROM gg${i}c c JOIN e x ON x.vec_id = c.nid
                        JOIN e q ON q.vec_id = c.query_id) WHERE r = 1)""")
    }
    sb.append(s""",
        gs0 AS (SELECT g.query_id, g.cur AS nid,
                       list_dot_product(x.v, q.v) / (x.nrm * q.nrm) AS cos
                FROM gg$GraphGreedyHops g JOIN e x ON x.vec_id = g.cur
                     JOIN e q ON q.vec_id = g.query_id)""")
    for (i <- 1 to GraphBeamHops) {
      sb.append(s""",
        gbm$i AS (SELECT query_id, nid FROM (
                    SELECT s.*, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, nid) AS r FROM gs${i - 1} s)
                  WHERE r <= $ef),
        gfr$i AS (SELECT DISTINCT t.query_id, ed.dst AS nid
                  FROM gbm$i t JOIN gedge ed ON ed.src = t.nid),
        gs$i AS MATERIALIZED (
          SELECT query_id, nid, cos FROM gs${i - 1}
          UNION
          SELECT n.query_id, n.nid,
                 list_dot_product(x.v, q.v) / (x.nrm * q.nrm) AS cos
          FROM gfr$i n JOIN e x ON x.vec_id = n.nid
               JOIN e q ON q.vec_id = n.query_id)""")
    }
    sb.toString
  }
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file / coarse-quantizer) approximate nearest neighbor —
  * the second index family next to RHP-LSH (`Similarity.lshTopK`).
  *
  * Recipe (the standard one — FAISS trains its coarse quantizer the same
  * way): k-means centroids trained DRIVER-SIDE on a bounded sample, then
  * every corpus vector is assigned to its nearest centroid (one list per
  * vector), queries probe their `nProbe` nearest lists, and exact cosine
  * reranks only the probed candidates.
  *
  * Scale shape: training is O(sample × nList × dim) on the driver —
  * bounded, corpus-size-independent; assignment is a projection (native
  * `IvfAssignExpr`, no shuffle); candidate generation is an equi-join on
  * the list id (ids only — vectors join back for the candidate set);
  * rerank is windowed top-k over |queries| × |probed lists| candidates.
  * Versus LSH: IVF adapts to the corpus distribution (trained lists ≈
  * data clusters), so it typically needs fewer probes for the same
  * recall on clustered embeddings.
  */
object Ivf {

  /** Driver-side Lloyd iterations on a deterministic bounded sample
    * (hash-ordered take). Returns a flat row-major nList×dim matrix of
    * L2-NORMALIZED centroids — so argmax inner product == argmax cosine
    * at assignment time and the probe needs no per-row normalization.
    */
  def trainCentroids(emb: DataFrame, vecCol: String, nList: Int, dim: Int,
                     sampleSize: Int = 20000, iters: Int = 10): Array[Double] = {
    import emb.sparkSession.implicits._
    val sample: Array[Array[Double]] = emb
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .filter(size(col("v")) === dim)
      .withColumn("__h", hash(col("v")))
      .orderBy("__h") // deterministic sample independent of partitioning
      .limit(sampleSize)
      .select("v").as[Seq[Double]].collect()
      .map(_.toArray)
    require(sample.nonEmpty, "cannot train IVF centroids on an empty corpus")

    def normalize(v: Array[Double]): Array[Double] = {
      var s = 0.0; var j = 0
      while (j < v.length) { s += v(j) * v(j); j += 1 }
      val n = math.sqrt(s)
      if (n == 0.0) v else v.map(_ / n)
    }
    val unit = sample.map(normalize)
    val k = math.min(nList, unit.length)
    // spread initialization over the hash-ordered sample
    val stride = math.max(1, unit.length / k)
    val centroids = Array.tabulate(k)(i => unit(i * stride).clone())

    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      unit.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var acc = 0.0; var j = 0
          while (j < dim) { acc += v(j) * centroids(c)(j); j += 1 }
          if (acc > bestDot) { best = c; bestDot = acc }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          centroids(c) = normalize(sums(c).map(_ / counts(c)))
        } // empty list keeps its previous centroid
        c += 1
      }
      it += 1
    }
    val flat = new Array[Double](k * dim)
    var c = 0
    while (c < k) {
      System.arraycopy(centroids(c), 0, flat, c * dim, dim)
      c += 1
    }
    flat
  }

  /** Fully DISTRIBUTED spherical-k-means (Lloyd) training over the WHOLE
    * corpus — the companion to the sample-bounded [[trainCentroids]]: use
    * it when the corpus distribution has mass a 20k sample misses (rare
    * languages, small sources) and list balance at the tail matters.
    *
    * Each iteration is two narrow jobs: (1) nearest-centroid assignment —
    * a pure projection through the native `IvfAssignExpr`, no shuffle;
    * (2) per-(list, dimension) sums of the L2-normalized vectors via one
    * `posexplode` + groupBy — the shuffle carries (list, pos, partial
    * sum) after map-side combine, i.e. O(k × dim × partitions), never the
    * vectors. Only the k×dim model state is collected to the driver.
    *
    * Sums go through DECIMAL, so the trained centroids are
    * bit-deterministic under any partitioning / AQE layout — a double
    * sum would make the model depend on shuffle order. Initialization
    * reuses [[trainCentroids]]'s deterministic hash-ordered spread
    * (0 driver iterations — just the seeds).
    */
  def trainCentroidsLloyd(emb: DataFrame, vecCol: String, nList: Int,
                          dim: Int, iters: Int = 5,
                          initSample: Int = 20000): Array[Double] = {
    graft.plans.GraftFunctions.register(emb.sparkSession)
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    def normalize(v: Array[Double]): Array[Double] = {
      var s = 0.0; var j = 0
      while (j < v.length) { s += v(j) * v(j); j += 1 }
      val n = math.sqrt(s)
      if (n == 0.0) v else v.map(_ / n)
    }
    // the training scans the corpus 1 (init) + `iters` times: cache the
    // one-column projection for the duration (a DERIVED frame, so
    // unpersisting cannot evict a cache the caller owns)
    val src = emb.select(col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // unit-normalized double vectors, computed once per iteration scan
    val vd = transform(col(vecCol), x => x.cast("double"))
    val nrm = sqrt(aggregate(vd, lit(0.0d), (acc, x) => acc + x * x))
    val safeNrm = when(nrm > 0.0, nrm).otherwise(lit(1.0)) // zero vector → itself
    val unit = transform(vd, x => x / safeNrm).as("__v")
    var centroids = trainCentroids(src, vecCol, nList, dim, initSample, 0)

    var it = 0
    while (it < iters) {
      val assigned = src.filter(size(col(vecCol)) === dim)
        .select(element_at(
          assignLists(col(vecCol), centroids, dim, 1), 1).as("__list"), unit)
      val rows = assigned
        .select(col("__list"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy("__list", "pos")
        .agg(sum(col("x").cast(dec)).cast("double").as("s"),
          count(lit(1)).as("n"))
        .collect()
      val k = centroids.length / dim
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      rows.foreach { r =>
        val list = r.getInt(0); val pos = r.getInt(1)
        sums(list)(pos) = r.getDouble(2)
        counts(list) = r.getLong(3)
      }
      val next = centroids.clone()
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          val mean = normalize(sums(c).map(_ / counts(c)))
          System.arraycopy(mean, 0, next, c * dim, dim)
        } // empty list keeps its previous centroid
        c += 1
      }
      centroids = next
      it += 1
    }
    centroids
    } finally src.unpersist(blocking = false)
  }

  /** Nearest-`probes` centroid ids for a vector column (native
    * `IvfAssignExpr`; requires `GraftFunctions.register(spark)`). The
    * centroid literal is absorbed into the expression object at analysis,
    * so the resolved plan carries no k×dim literal tree.
    */
  def assignLists(vec: Column, centroids: Array[Double], dim: Int,
                  probes: Int): Column = {
    val k = centroids.length / dim
    call_function("graft_ivf_assign", vec,
      typedlit(centroids.toSeq), lit(k), lit(dim), lit(probes))
  }

  /** IVF approximate top-k: train → assign corpus (1 list/vector) →
    * probe queries (`nProbe` lists) → equi-join on list id (ids only) →
    * exact cosine rerank of candidates, deterministic tie-break.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nList: Int = 64, nProbe: Int = 4,
              dim: Int = 64, sampleSize: Int = 20000,
              iters: Int = 10): DataFrame = {
    val centroids = trainCentroids(corpus, vecCol, nList, dim, sampleSize, iters)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      element_at(assignLists(col(vecCol), centroids, dim, 1), 1).as("list"))
    val q = queries.select(col(idCol).as("query_id"),
      explode(assignLists(col(vecCol), centroids, dim, nProbe)).as("list"))
    // NO distinct here: each corpus vector lives in exactly one list and
    // probe lists are distinct by construction, so a (query, neighbor)
    // pair cannot repeat — a dedup would add a full shuffle over the
    // largest intermediate for nothing. Rerank is shared with LSH.
    val cands = c.join(q, "list")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    Similarity.rerankTopK(cands, corpus, queries, idCol, vecCol, k, dim)
  }

  /** [[ivfTopK]] with EXEMPLAR centroids — the `nList` lowest-id corpus
    * vectors — instead of a trained coarse quantizer: the same
    * assign-probe-rerank shape and the same candidates-are-an-equi-join
    * scale story, but with no trained model in the loop every stage is
    * plain relational algebra over the corpus itself, so THIS member of
    * the IVF family is cross-engine-checkable (q85's DuckDB oracle
    * mirrors it statement for statement). Same exemplar convention as
    * [[graft.ext.Dedup.semanticDedupKeptIdsExemplar]] (q84): assignment
    * and probing are argmax cosine rounded to 6 decimals — the whole
    * cosine family's convention (q30/q37) so last-ulp noise cannot flip
    * an argmax across engines — with smallest-exemplar-id tie-break.
    *
    * Exemplar seeding is Forgy initialization without the Lloyd
    * refinement; list balance is whatever the first `nList` vectors give.
    * An unlucky exemplar set costs recall (a near neighbor lands in an
    * unprobed list), never a wrong answer WITHIN the probed candidate
    * set — the rerank is exact. Production runs wanting
    * distribution-adapted lists use [[ivfTopK]] / [[ivfTopKIndexed]].
    */
  def ivfTopKExemplar(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, nList: Int = 8, nProbe: Int = 2,
                      dim: Int = 64): DataFrame = {
    val cands = exemplarCandidates(corpus, queries, idCol, vecCol, nList,
      nProbe, dim)
    Similarity.rerankTopK(cands, corpus, queries, idCol, vecCol, k, dim)
  }

  /** Filtered ANN over a SHARED index, exemplar member: the index
    * (centroids, assignments) is built on the FULL corpus, and the
    * metadata predicate arrives as an `allowed` id relation semi-joined
    * onto the candidates BEFORE the exact rerank — the
    * filtered-vector-search strategy for one index serving many
    * predicates (re-clustering per predicate would be absurd).
    * Trade-off vs the exact pre-filter (q135's shape): a probed list can
    * hold fewer than k allowed members, so results may run short of k —
    * here that trade is itself deterministic relational algebra, so the
    * whole filtered funnel verifies cross-engine. The allowed relation
    * carries only ids (broadcast-sized for selective predicates; a
    * corpus-scale predicate would arrive as a bucketed semi-join).
    */
  def ivfFilteredTopKExemplar(corpus: DataFrame, queries: DataFrame,
                              idCol: String, vecCol: String,
                              allowed: DataFrame, k: Int, nList: Int = 8,
                              nProbe: Int = 2, dim: Int = 64): DataFrame = {
    val cands = exemplarCandidates(corpus, queries, idCol, vecCol, nList,
        nProbe, dim)
      .join(broadcast(allowed.select(col(idCol).as("neighbor_id"))),
        Seq("neighbor_id"), "left_semi")
    Similarity.rerankTopK(cands, corpus, queries, idCol, vecCol, k, dim)
  }

  /** The exemplar-IVF candidate relation (query_id, neighbor_id):
    * lowest-id-vector centroids, argmax assignment, probe join — shared
    * by the plain exemplar top-k (q85) and the int8-composed variant
    * (q121) so the candidate semantics cannot drift between them.
    */
  private[ext] def exemplarCandidates(corpus: DataFrame, queries: DataFrame,
                                      idCol: String, vecCol: String,
                                      nList: Int, nProbe: Int,
                                      dim: Int): DataFrame = {
    // norms once per row behind an optimization barrier (the shared
    // exemplar-family pattern — see Similarity.withVecNorm), and the
    // barrier's hash partitioning on id is exactly what the argmax
    // window needs — no extra Exchange between them
    def prep(df: DataFrame) =
      Similarity.withVecNorm(df, idCol, vecCol).repartition(col(idCol))
    val base = prep(corpus)
    val cents = base.orderBy(col(idCol)).limit(nList)
      .select(col(idCol).as("cid"), col("v").as("cvec"), col("nrm").as("cnrm"))
    centroidCandidates(base, prep(queries), cents, idCol, nProbe, dim)
  }

  /** The candidate relation (query_id, neighbor_id) under an ARBITRARY
    * `cents (cid, cvec, cnrm)` relation: rounded-cosine argmax
    * assignment (1 list/vector), `nProbe` probe lists per query, ids
    * equi-joined on the list. Shared by the exemplar members (q85/q121
    * via lowest-id cents) and the seeded-trained member (q43) so the
    * candidate semantics cannot drift between them. Inputs must be the
    * [[Similarity.withVecNorm]] projections.
    */
  private[ext] def centroidCandidates(base: DataFrame, qbase: DataFrame,
                                      cents: DataFrame, idCol: String,
                                      nProbe: Int, dim: Int): DataFrame = {
    def nearestLists(src: DataFrame, keep: Int, outId: String): DataFrame = {
      val scored = src.crossJoin(broadcast(cents))
        .select(col(idCol), col("cid"),
          round(Similarity.dotNative(col("v"), col("cvec"), dim) /
            (col("nrm") * col("cnrm")), 6).as("sim"))
      if (keep == 1)
        // the corpus-side assignment — argmax as a partial aggregate
        // (see [[argmaxAssign]]); the window form below stays for the
        // tiny multi-list probe side only
        argmaxAssign(scored, idCol)
          .select(col(idCol).as(outId), col("list"))
      else {
        val w = Window.partitionBy(idCol).orderBy(col("sim").desc, col("cid"))
        scored.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= keep)
          .select(col(idCol).as(outId), col("cid").as("list"))
      }
    }
    val assigned = nearestLists(base, 1, "neighbor_id")
    val probes = nearestLists(qbase, nProbe, "query_id")
    assigned.join(probes, "list")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
  }

  /** IVF approximate top-k under the md5-derandomized TRAINED coarse
    * quantizer — q43's ORACLE-CHECKED form since round 10: the same
    * [[kppSeedIds]] + [[lloydIterateFrom]] centroids as q75 (shared
    * oracle prefix), the q85 probe shape under them. The trained model
    * is a tiny (≤ nList)-row relation, localCheckpointed once and
    * broadcast to both the assignment and the probe argmax — the
    * candidate join and exact rerank are unchanged from the family.
    */
  def ivfTopKSeeded(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nList: Int = 8, nProbe: Int = 2,
                    iters: Int = 2, dim: Int = 64): DataFrame = {
    val ids = kppSeedIds(corpus, idCol, vecCol, nList, dim)
    def prep(df: DataFrame) =
      Similarity.withVecNorm(df, idCol, vecCol).repartition(col(idCol))
    val base = prep(corpus)
    val seeds = base.filter(col(idCol).isin(ids: _*))
      .select(col(idCol).as("cid"), col("v").as("cvec"), col("nrm").as("cnrm"))
    val cents = assembleCentroids(
        lloydIterateFrom(base, seeds, idCol, iters, dim))
      .localCheckpoint()
    val cands = centroidCandidates(base, prep(queries), cents, idCol,
      nProbe, dim)
    Similarity.rerankTopK(cands, corpus, queries, idCol, vecCol, k, dim)
  }

  /** IVF × int8 composition, exemplar member (q121): candidates come
    * from the probed lists (corpus-size-independent probe cost), the
    * int8 quantized dot prunes them to `candK` per query (4× less
    * candidate IO — the BASELINE "compose with bucketing" claim, now
    * hash-gated), and exact float cosine reranks only the shortlist.
    * Every stage is deterministic relational algebra, so the whole
    * three-tier funnel — bucket, quantized prune, exact rerank, the
    * standard shape of a web-scale retrieval stack — verifies
    * cross-engine end to end.
    */
  def ivfInt8TopKExemplar(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          nList: Int = 8, nProbe: Int = 2, dim: Int = 64,
                          candK: Int = 20): DataFrame = {
    val cands = exemplarCandidates(corpus, queries, idCol, vecCol, nList,
      nProbe, dim)
    val c8 = Similarity.withInt8(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("nrm").as("cn"),
        col("qmax").as("cmax"), col("qvec").as("cq"))
    val q8 = Similarity.withInt8(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("nrm").as("qn"),
        col("qmax").as("qmaxv"), col("qvec").as("qq"))
    val idot = Similarity.dotInt8Native(col("qq"), col("cq"), dim)
    // same expression shape as q112 and its oracle
    val approx = round(
      (col("qmaxv") / 127.0) * (col("cmax") / 127.0) * idot.cast("double") /
        (col("qn") * col("cn")), 6)
    val scored = cands.join(q8, "query_id").join(c8, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), approx.as("approx_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_sim").desc, col("neighbor_id"))
    val shortlist = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= candK)
      .select("query_id", "neighbor_id")
    Similarity.rerankTopK(shortlist, corpus, queries, idCol, vecCol, k, dim)
  }

  /** One spherical-Lloyd refinement step from EXEMPLAR seeds, returned
    * as a (list, pos, value) relation — the oracle-checkable member of
    * the k-means family (q87). [[trainCentroidsLloyd]] is exactly this
    * step iterated (unit-normalize → argmax-assign → DECIMAL
    * per-(list, dimension) mean → renormalize), but its trained model
    * state can't be reproduced by a second engine; with the `nList`
    * lowest-id vectors as seeds every stage is plain relational algebra
    * a DuckDB oracle mirrors statement for statement, so the TRAINING
    * STEP itself — not just its downstream consumers — is
    * cross-engine-verified. Same scale shape as one
    * [[trainCentroidsLloyd]] iteration: the shuffle carries (list, pos,
    * decimal partial) after map-side combine, never the vectors.
    *
    * Output values are truncated (`floor(x*1e6)/1e6`), not rounded:
    * truncation is pure IEEE arithmetic, immune to the string-vs-binary
    * `round()` divergence on derived doubles (means of DECIMAL sums are
    * exactly the small-denominator-rational shape that hazard bites).
    */
  def lloydStepExemplar(emb: DataFrame, idCol: String, vecCol: String,
                        nList: Int = 8, dim: Int = 64): DataFrame =
    lloydIterateExemplar(emb, idCol, vecCol, nList, iters = 1, dim)

  /** `iters` spherical-Lloyd steps from the exemplar seeds, the whole
    * refinement expressed as a RELATIONAL FIXPOINT: centroids stay a
    * (list, cvec) relation between steps — never collected to the
    * driver — and every intermediate value is cross-engine bit-stable
    * (DECIMAL means; IEEE division/sqrt; sequential-order dots), so
    * q91's DuckDB oracle unrolls the same steps and hash-matches.
    * Divergence from [[trainCentroidsLloyd]], documented: a list that
    * wins no vectors DROPS OUT of the relation (the trained API keeps
    * its previous centroid) — relational semantics, and both engines
    * agree. Only the FINAL values are truncated to the 1e-6 lattice.
    */
  def lloydIterateExemplar(emb: DataFrame, idCol: String, vecCol: String,
                           nList: Int = 8, iters: Int = 2,
                           dim: Int = 64): DataFrame = {
    val base = Similarity.withVecNorm(emb, idCol, vecCol)
      .repartition(col(idCol))
    val seeds = base.orderBy(col(idCol)).limit(nList)
      .select(col(idCol).as("cid"), col("v").as("cvec"), col("nrm").as("cnrm"))
    lloydIterateFrom(base, seeds, idCol, iters, dim)
      .select(col("list"), col("pos"),
        (floor(col("value") * lit(1e6)) / lit(1e6)).as("value"))
  }

  /** The relational-fixpoint Lloyd refinement shared by the exemplar
    * (q91) and k-means++-seeded (q75) trainers: `iters` steps of
    * argmax-assign (6-decimal-rounded cosine, smallest-cid tie-break) →
    * DECIMAL per-(list, pos) mean of the unit vectors → renormalize,
    * from an ARBITRARY `seeds (cid, cvec, cnrm)` relation. Returns the
    * UNROUNDED (list, pos, value) rows of the final step — callers
    * truncate for presentation or [[assembleCentroids]] them for a
    * final assignment pass. `base` must be the
    * [[Similarity.withVecNorm]] projection of the corpus.
    */
  /** One winner per `key` from a scored candidate relation: argmax by
    * (`sim` DESC, `cid` ASC), carrying the named payload columns from
    * the winning row — as one partial-aggregating `max(struct(sim,
    * -cid, payload…))` instead of a `row_number` window. Selection is
    * IDENTICAL to the window form including the degenerate orderings
    * (a NaN sim ranks above every number in both a DESC sort and a
    * struct max; a null sim ranks below; ties fall to the smallest
    * cid via the negated field; payload fields are never compared
    * because cid is unique per key). The scale win: the window must
    * SHUFFLE AND SORT every (key × candidate) row, while the aggregate
    * map-side-combines to ONE row per key per partition — with nList
    * candidates that is nList× less shuffle and no sort, the same
    * argument as `graft_top_k` at k=1. Output: key, `list` (winning
    * cid), `sim` (winning score), payload columns.
    */
  private[ext] def argmaxAssign(scored: DataFrame, key: String,
                                payload: String*): DataFrame = {
    val fields = Seq(col("sim"), negate(col("cid")).as("__nc")) ++
      payload.map(col)
    scored.groupBy(col(key))
      .agg(max(struct(fields: _*)).as("__w"))
      .select(Seq(col(key), negate(col("__w.__nc")).as("list"),
        col("__w.sim").as("sim")) ++
        payload.map(p => col(s"__w.$p").as(p)): _*)
  }

  private[graft] def lloydIterateFrom(base: DataFrame, seeds: DataFrame,
                                      idCol: String, iters: Int,
                                      dim: Int): DataFrame = {
    require(iters >= 1, "at least one Lloyd step")
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    // one refinement: argmax-assign to cents, DECIMAL per-(list, pos)
    // mean of the unit vectors, renormalize — centroids in, centroids out
    def step(cents: DataFrame): DataFrame = {
      val scored = base.crossJoin(broadcast(cents))
        .select(col(idCol), col("v"), col("nrm"), col("cid"),
          round(Similarity.dotNative(col("v"), col("cvec"), dim) /
            (col("nrm") * col("cnrm")), 6).as("sim"))
      val assigned = argmaxAssign(scored, idCol, "v", "nrm")
        .select(col("list"), col("v"), col("nrm"))
      val comp = assigned
        .select(col("list"), col("nrm"), posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("list"), col("pos").cast("long").as("pos"),
          (col("x") / when(col("nrm") > 0.0, col("nrm")).otherwise(lit(1.0)))
            .as("ux"))
      val means = comp.groupBy("list", "pos")
        .agg((sum(col("ux").cast(dec)).cast("double") / count(lit(1))).as("m"))
      val norms = means.groupBy("list")
        .agg(sqrt(sum((col("m") * col("m")).cast(dec)).cast("double")).as("mn"))
      means.join(norms, "list")
        .select(col("list"), col("pos"), (col("m") / col("mn")).as("value"))
    }
    // each step's output is the ≤ nList×dim centroid relation — tiny;
    // localCheckpoint it so the next step (and any downstream census/
    // probe consumer) replays a materialized model instead of the whole
    // prior step's crossJoin+window lineage per consumer (the
    // composite-query discipline — keeps lineage flat; the bench cost
    // of the trained family is scheduler round-trips, not recompute)
    var rows = step(seeds).localCheckpoint()
    var it = 1
    while (it < iters) {
      rows = step(assembleCentroids(rows)).localCheckpoint()
      it += 1
    }
    rows
  }

  /** (list, pos, value) centroid rows → the (cid, cvec, cnrm) relation
    * the Lloyd step / final-assignment pass consumes; array_sort on
    * (pos, value) structs makes collect_list order-safe.
    */
  private[graft] def assembleCentroids(rows: DataFrame): DataFrame =
    rows.groupBy("list")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("value")))),
        s => s.getField("value")).as("cvec"))
      .select(col("list").as("cid"), col("cvec"),
        Similarity.norm(col("cvec")).as("cnrm"))

  // ------------------------------------------- engine-neutral k-means++

  /** k-means++ seed selection (Arthur & Vassilvitskii 2007) with the
    * randomness DERANDOMIZED through md5 — every draw any engine can
    * replay, so the seeded trainer below is oracle-checkable end to end
    * (the round-9 q139/q119 conversion pattern applied to the last
    * RNG-dependent family):
    *
    *  - seed 1 is the uniform draw realized as argmin of a per-id
    *    digest (`md5(salt:1:id)`, id tie-break) — a fixed uniform
    *    sample over the corpus;
    *  - seed k+1 samples EXACTLY the k-means++ D² distribution by
    *    integer inverse-CDF: D²(x) = 2·10⁶ − 2·max_s simMicro(x, s)
    *    on unit vectors (cosine rounded to micro — the q122 idiom, so
    *    the weights are exact longs), the draw is
    *    `md5(salt:draw:k)`'s first 60 bits mod ΣD², and the winner is
    *    the first id (in id order) whose running D² sum exceeds it.
    *
    * Already-chosen seeds are excluded from each draw (a float-noise
    * re-pick would duplicate a centroid). Scale shape: k−1 passes over
    * the corpus for the best-sim projection plus a running sum over the
    * (id, weight) sliver — 16 bytes/row, the q143 running-window
    * discipline; the only driver state is k ids + k seed vectors.
    * Requires a non-degenerate corpus (ΣD² > 0 at every step).
    */
  def kppSeedIds(emb: DataFrame, idCol: String, vecCol: String, nList: Int,
                 dim: Int = 64, salt: String = "graft:kpp"): Seq[Long] = {
    graft.plans.GraftFunctions.register(emb.sparkSession)
    val base = Similarity.withVecNorm(emb, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // each draw is ONE Spark job: the winner row carries (id, v, nrm)
      // so no follow-up fetch, the draw threshold is computed IN-PLAN
      // (digest literal mod the unbounded-window total — identical to
      // the oracle's `(SELECT sum(d2))` modulus; conv(h,16,10) ≡ DuckDB
      // ('0x'||h)::BIGINT, 15 hex chars = 60 positive bits), and the
      // running sum rides the same single-partition sort. At 8 seeds
      // the seeding is ~8 scheduler round-trips, not ~32.
      def takeSeed(df: DataFrame): (Long, Seq[Double], Double) = {
        val row = df.limit(1).select(col(idCol), col("v"), col("nrm"))
          .collect().headOption.getOrElse(
            throw new IllegalArgumentException("k-means++: degenerate " +
              "corpus (no drawable vector left — ΣD² must be positive)"))
        (row.getLong(0), row.getSeq[Double](1), row.getDouble(2))
      }
      var seeds = Vector(takeSeed(base
        .orderBy(md5(concat(lit(s"$salt:1:"), col(idCol).cast("string"))),
          col(idCol))))
      while (seeds.length < nList) {
        val simCols = seeds.map { case (_, v, n) =>
          round(Similarity.dotNative(col("v"), typedlit(v), dim) /
            (col("nrm") * lit(n)) * lit(1000000.0)).cast("long")
        }
        val best =
          if (simCols.size == 1) simCols.head else greatest(simCols: _*)
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$salt:draw:${seeds.length + 1}".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val cum = Window.orderBy(col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val all = Window.orderBy(col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        seeds :+= takeSeed(base
          .filter(!col(idCol).isin(seeds.map(_._1): _*))
          .select(col(idCol), col("v"), col("nrm"),
            (lit(2000000L) - lit(2L) * best).as("d2"))
          .withColumn("__cum", sum(col("d2")).over(cum))
          .withColumn("__tot", sum(col("d2")).over(all))
          .filter(col("__cum") >
            conv(lit(digest.take(15)), 16, 10).cast("long") % col("__tot"))
          .orderBy(col(idCol)))
      }
      seeds.map(_._1)
    } finally base.unpersist(blocking = false)
  }

  /** q75 — the ENGINE-NEUTRAL trained k-means: [[kppSeedIds]] seeding,
    * `iters` relational-fixpoint Lloyd steps ([[lloydIterateFrom]] —
    * DECIMAL means, never collected), one final argmax assignment under
    * the trained centroids, and the per-cluster census in exact
    * integers: `n` plus `mean_cos_micro = Σ simMicro div n` (truncating
    * division — Scala `/` ≡ Spark `div` ≡ DuckDB `//` on any sign).
    * Every stage is replayable by a second engine, which is the point:
    * the TRAINED MODEL itself — not an exemplar stand-in — is
    * oracle-checked (q75 was rows-only for eight rounds because its
    * murmur3-ordered init sample had no cross-engine twin).
    *
    * Cluster ids are the seed vector ids (stable, meaningful); a
    * cluster that wins no vectors in a refinement drops out
    * (relational semantics, as q91).
    */
  def kmeansPlusPlusStats(emb: DataFrame, idCol: String, vecCol: String,
                          nList: Int = 8, iters: Int = 2,
                          dim: Int = 64): DataFrame = {
    val ids = kppSeedIds(emb, idCol, vecCol, nList, dim)
    val base = Similarity.withVecNorm(emb, idCol, vecCol)
      .repartition(col(idCol))
    val seeds = base.filter(col(idCol).isin(ids: _*))
      .select(col(idCol).as("cid"), col("v").as("cvec"), col("nrm").as("cnrm"))
    val cents = assembleCentroids(
      lloydIterateFrom(base, seeds, idCol, iters, dim))
    val scored = base.crossJoin(broadcast(cents))
      .select(col(idCol), col("cid"),
        round(Similarity.dotNative(col("v"), col("cvec"), dim) /
          (col("nrm") * col("cnrm")), 6).as("sim"))
    argmaxAssign(scored, idCol)
      .select(col("list").as("cluster_id"),
        round(col("sim") * lit(1000000.0)).cast("long").as("__simm"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n"), sum(col("__simm")).as("__s"))
      .select(col("cluster_id"), col("n"),
        expr("__s div n").as("mean_cos_micro"))
      .orderBy("cluster_id")
  }

  // ---------------------------------------------------------- persistence

  /** Persist a trained IVF index: the corpus with its assigned list id,
    * written `bucketBy(list)` into the table catalog, plus the trained
    * centroid matrix as `<table>_centroids` (row-major (pos, value) —
    * self-contained: a later session reloads both and probes without
    * retraining).
    *
    * Why bucketed: probing is an equi-join on `list`. A bucketed corpus
    * scan already satisfies that join's distribution requirement, so
    * EVERY future probe shuffles only the query side (tiny) — the
    * 100 TB corpus is never exchanged again. Same pay-the-shuffle-once
    * rationale as [[Dedup.writeBucketedByContent]].
    */
  def writeIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 centroids: Array[Double], dim: Int, table: String,
                 nBuckets: Int = 32): Unit = {
    val spark = corpus.sparkSession
    corpus
      .select(col(idCol), col(vecCol),
        element_at(assignLists(col(vecCol), centroids, dim, 1), 1).as("list"))
      .write.format("parquet")
      .bucketBy(nBuckets, "list").sortBy("list")
      .mode("overwrite").saveAsTable(table)
    import spark.implicits._
    // dim is persisted WITH the matrix: the flat row-major layout is
    // meaningless without it, and decoding with the wrong dim would
    // silently assign garbage lists. id_col/vec_col ride along for the
    // same reason the BM25 postings persist id_col: serving code that
    // INFERS the vector column positionally mis-binds the moment the
    // index table gains or reorders a column
    centroids.toSeq.zipWithIndex
      .map { case (v, i) => (i, v, dim, idCol, vecCol) }
      .toDF("pos", "value", "dim", "id_col", "vec_col")
      .coalesce(1)
      .write.mode("overwrite").saveAsTable(s"${table}_centroids")
    // at-build fit reference for the drift check ([[distortionByList]])
    distortionByList(spark, table, vecCol, dim, centroids)
      .coalesce(1)
      .write.mode("overwrite").saveAsTable(s"${table}_health")
  }

  /** Per-list quantization fit of a persisted index under a given
    * coarse matrix: for every row, the cosine (integer micro units,
    * one rounding) to the centroid of its OWN assigned list, averaged
    * per list with exact-long `div`. This is the index's health
    * measure: [[writeIndex]] (and [[Pq.writeIndex]]) persists it as
    * `<table>_health` at build time, and [[IndexAudit.driftIvf]] /
    * [[IndexAudit.driftPq]] recompute it after appends to decide when
    * "retrain on its own cadence" is due — appended rows assign under
    * the FROZEN model, so a corpus whose distribution moved away from
    * the trained centroids shows up exactly here, as per-list mean-fit
    * decay. One aggregation over the index table (ids + vectors it
    * already stores — never the source corpus), broadcast-joined to
    * the ≤ nList-row centroid relation; output is ≤ nList rows.
    */
  def distortionByList(spark: SparkSession, table: String, vecCol: String,
                       dim: Int, cents: Array[Double]): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    import spark.implicits._
    val nList = cents.length / dim
    val crows = (0 until nList).map { c =>
      val v = java.util.Arrays.copyOfRange(cents, c * dim, (c + 1) * dim)
      (c, v.toSeq, math.sqrt(v.map(x => x * x).sum))
    }.toDF("list", "cvec", "cnrm")
    val rows = spark.table(table).select(col("list"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    rows.join(broadcast(crows), "list")
      .select(col("list"),
        round(Similarity.dotNative(col("v"), col("cvec"), dim) /
          (col("nrm") * col("cnrm")) * lit(1000000.0)).cast("long").as("cm"))
      .groupBy("list")
      .agg(count(lit(1)).as("n"), sum(col("cm")).as("__s"))
      .select(col("list"), col("n"), expr("__s div n").as("mean_cos_micro"))
      .orderBy("list")
  }

  /** Append new vectors to a persisted IVF index — the corpus-growth
    * step of the ingest loop (the `appendToMinhashIndex` /
    * `appendToDHashIndex` pattern): arrivals assign to the EXISTING
    * stored centroids (the standard IVF ingestion discipline — the
    * quantizer retrains on its own cadence, not per batch, or probe
    * results would shift under readers) and land via `insertInto`,
    * which honors the table's bucketing metadata. Arrivals must carry
    * ids the index does not hold yet: nothing here dedupes, and a probe
    * over an id stored twice ranks that id twice
    * ([[IndexAudit.auditIvf]]'s `ids_unique` finds it).
    */
  def appendToIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    table: String): Unit = {
    val spark = corpus.sparkSession
    val (dim, centroids) = loadModel(spark, table)
    corpus
      .select(col(idCol), col(vecCol),
        element_at(assignLists(col(vecCol), centroids, dim, 1), 1).as("list"))
      .write.mode("append").insertInto(table)
  }

  /** Retrain + rewrite a persisted IVF index from its OWN current rows
    * — the remedy [[IndexAudit.driftIvf]] points to when appended data
    * no longer fits the frozen quantizer. Keeps the stored geometry
    * (dim, centroid count unless overridden) and the catalog's bucket
    * layout, so every probe's Exchange-free plan survives the rebuild;
    * the rows are localCheckpointed first because the rewrite reads
    * the table it replaces. One training sample + one assignment pass
    * over the index's own rows — never the source corpus.
    */
  def rebuildIndex(spark: SparkSession, table: String, idCol: String,
                   vecCol: String, nListOverride: Option[Int] = None,
                   sampleSize: Int = 20000, iters: Int = 10): Unit = {
    val (dim, centroids) = loadModel(spark, table)
    val nList = nListOverride.getOrElse(centroids.length / dim)
    val (nBuckets, _, _) = IndexAudit.bucketSpecOf(spark, table)
    val rows = spark.table(table).select(col(idCol), col(vecCol))
      .localCheckpoint()
    val cents = trainCentroids(rows, vecCol, nList, dim, sampleSize, iters)
    writeIndex(rows, idCol, vecCol, cents, dim, table, nBuckets)
  }

  /** Reload the model persisted by [[writeIndex]]: the vector
    * dimensionality and the row-major centroid matrix. The matrix is a
    * fresh copy on every call.
    */
  def loadModel(spark: SparkSession, table: String): (Int, Array[Double]) = {
    val (dim, centroids, _) = model(spark, table)
    (dim, centroids.clone())
  }

  /** The vector column name the index at `table` was written with
    * (persisted by [[writeIndex]]); `None` for indexes written before
    * the model carried it — callers fall back to positional inference
    * for those, with its documented mis-bind hazard.
    */
  def loadVecCol(spark: SparkSession, table: String): Option[String] =
    model(spark, table)._3

  /** The persisted model: dimensionality, centroid matrix and vector
    * column name. One job per version of `<table>_centroids`
    * ([[graft.io.VersionMemo]]; a warm call runs none): the
    * `(pos, value, dim[, vec_col])` rows (≤ nList·dim of them) are
    * collected unsorted and put in `pos` order on the driver.
    */
  private def model(spark: SparkSession, table: String)
      : (Int, Array[Double], Option[String]) =
    graft.io.VersionMemo.table(spark, "ivf-model",
        Seq(s"${table}_centroids")) {
      val m = spark.table(s"${table}_centroids")
      val hasVecCol = m.columns.contains("vec_col")
      val rows = m.select(Seq(col("pos"), col("value"), col("dim")) ++
          (if (hasVecCol) Seq(col("vec_col")) else Nil): _*).collect()
      require(rows.nonEmpty, s"empty IVF model in $table")
      (rows(0).getInt(2),
        rows.sortBy(_.getInt(0)).map(_.getDouble(1)),
        if (hasVecCol) Some(rows(0).getString(3)) else None)
    }

  /** Approximate top-k against a PERSISTED index — no training, no
    * corpus-side shuffle: queries assign to their `nProbe` nearest
    * stored centroids and are scored against the index rows of those
    * lists (see [[ivfProbe]] for the plan's shape). The dimensionality
    * comes from the index itself, never from the caller — a mismatched
    * dim would silently mis-decode the centroid matrix.
    */
  def ivfTopKIndexed(spark: SparkSession, table: String, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     nProbe: Int = 4): DataFrame =
    ivfProbe(spark, table, queries, idCol, vecCol, k, nProbe,
      queriesFitBroadcast = false)

  /** The probe list no index row is assigned to (lists are 0-based). */
  private val NoList: Int = -1

  /** [[ivfTopKIndexed]], in one of two shapes chosen by the size of the
    * query side.
    *
    * One pass, when the broadcast side fits: it carries one row per
    * (query, probed list), `nProbe` rows per query, with the query's id,
    * its vector cast to double and its norm. It is broadcast when the
    * caller vouches for it (`queriesFitBroadcast`, a served single-id
    * probe) or when the query count times the rows per query is at most
    * `broadcastLimit` ([[Similarity.BroadcastQueryRowLimit]], the same
    * row budget [[Similarity.rerankTopK]] gives its unexploded query
    * side; one `limit(n+1).count()` job). The index is scanned once,
    * each row hash-joins on its `list` to the queries that probe it, a
    * query is never its own neighbor, and each pair is scored with
    * [[Similarity.pairSim]] and ranked by [[Similarity.topKPerQuery]].
    * Every index row is its own candidate, vector included, so nothing
    * joins back to the index by id.
    *
    * Otherwise [[Similarity.rerankPairs]]' shape: thin (query, neighbor)
    * pairs from the list join first, vectors joined back by id, the
    * unexploded query side broadcast while it is within
    * `broadcastLimit` rows and joined by the planner beyond it. Both
    * shapes score and rank the same pairs with the same expressions, so
    * their answers are equal on an index whose ids are unique (the
    * contract [[IndexAudit.auditIvf]]'s `ids_unique` checks): an id
    * stored twice is scored once per stored row here, while the rerank
    * joins each of its candidate pairs back to both stored rows.
    *
    * `missingQuery`, only with a broadcast query side: when the query
    * side is empty, the probe fails with this message instead of
    * answering no rows. The index side then carries one sentinel row in
    * list [[NoList]], every query probes that list too, and the list
    * join is a left join: the sentinel finds no query exactly when
    * there is none, and the filter raises the message on it. Index rows
    * that no query probes, now kept by the left join, fail the
    * self-exclusion and drop in the same pass. So the check costs no
    * job of its own.
    */
  private[graft] def ivfProbe(spark: SparkSession, table: String,
                              queries: DataFrame, idCol: String,
                              vecCol: String, k: Int, nProbe: Int,
                              queriesFitBroadcast: Boolean,
                              missingQuery: Option[String] = None,
                              broadcastLimit: Int =
                                Similarity.BroadcastQueryRowLimit)
      : DataFrame = {
    val (dim, centroids) = loadModel(spark, table)
    val indexed = spark.table(table)
    val lists = assignLists(col(vecCol), centroids, dim, nProbe)
    val notSelf = col("neighbor_id") =!= col("query_id")
    // broadcast rows per query: its probed lists, and the sentinel list
    val rowsPerQuery = nProbe + missingQuery.size
    lazy val nQueries = queries.limit(broadcastLimit + 1).count()
    if (queriesFitBroadcast || nQueries * rowsPerQuery <= broadcastLimit) {
      val probed =
        missingQuery.fold(lists)(_ => concat(lists, array(lit(NoList))))
      val q = Similarity.scoringSide(queries, idCol, vecCol, "query_id",
        "qvec", "qn", explode(probed).as("list"))
      val rows = Similarity.scoringSide(indexed, idCol, vecCol, "neighbor_id",
        "cvec", "cn", col("list"))
      val pairs = missingQuery match {
        case None =>
          rows.join(broadcast(q), Seq("list")).filter(notSelf)
        case Some(msg) =>
          import spark.implicits._
          val sentinel = Seq(NoList).toDF("list").select(
            lit(null).cast(indexed.schema(idCol).dataType).as("neighbor_id"),
            lit(null).cast("array<double>").as("cvec"),
            lit(null).cast("double").as("cn"), col("list"))
          rows.unionByName(sentinel)
            .join(broadcast(q), Seq("list"), "left")
            .filter(coalesce(notSelf,
              col("list") === NoList && col("query_id").isNull &&
                raise_error(lit(msg)).cast("boolean")))
      }
      Similarity.topKPerQuery(pairs.select(col("query_id"), col("neighbor_id"),
        Similarity.pairSim(dim).as("sim")), k)
    } else {
      val cands = indexed.select(col(idCol).as("neighbor_id"), col("list"))
        .join(queries.select(col(idCol).as("query_id"),
          explode(lists).as("list")), "list")
        .filter(notSelf)
        .select("query_id", "neighbor_id")
      Similarity.rerankPairs(cands, indexed, queries, idCol, vecCol, k, dim,
        broadcastQueries = nQueries <= broadcastLimit)
    }
  }
}

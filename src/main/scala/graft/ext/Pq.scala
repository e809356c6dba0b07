package graft.ext

import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ approximate nearest neighbor — the third index family next to
  * RHP-LSH ([[Similarity.lshTopK]]) and plain IVF ([[Ivf.ivfTopK]]),
  * and the one that changes the STORAGE story: each corpus vector is
  * compressed to `m` small integer codes (8 ints here vs 64 floats —
  * and 8 bytes on disk/wire once dictionary-encoded), so candidate
  * scoring at 100 TB never touches raw vectors. FAISS's IndexIVFPQ is
  * the reference architecture (public knowledge; no code consulted).
  *
  * Recipe: vectors are L2-normalized (squared-L2 then equals 2−2·cos,
  * so PQ ordering tracks the cosine ordering the whole ANN family
  * uses); each vector's RESIDUAL against its coarse IVF centroid is
  * split into `m` subspaces of `dsub` dims, each quantized by a
  * driver-trained `ksub`-centroid codebook. Residual encoding is the
  * load-bearing detail: the coarse centroid — shared by every
  * candidate a probe inspects — is subtracted before quantization, so
  * codebook resolution is spent on what distinguishes neighbors
  * (without it, within-cluster ADC ordering is noise: measured recall
  * 0.3 vs 0.9+ with residuals on clustered corpora).
  *
  * Search: IVF coarse candidates (equi-join on list id; ids + codes
  * ride the join, never vectors) → per-(query, probed-list) lookup
  * tables of exact residual-to-codeword distances → ADC shortlist via
  * the native [[graft.plans.PqAdcExpr]] gather → exact cosine rerank
  * of the shortlist only.
  */
object Pq {

  /** Per-subspace k-means codebooks on the RESIDUALS of a
    * deterministic hash-ordered sample of L2-normalized vectors
    * against their nearest coarse centroid. Returns the flat
    * `[sub][centroid][dim]` matrix (m·ksub·dsub doubles). Plain L2
    * Lloyd per subspace — residuals are not unit vectors, so
    * spherical updates would be wrong here.
    */
  def trainCodebooks(emb: DataFrame, vecCol: String, coarse: Array[Double],
                     m: Int, ksub: Int, dim: Int, sampleSize: Int = 20000,
                     iters: Int = 10): Array[Double] = {
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    require(coarse.isEmpty || coarse.length % dim == 0,
      s"coarse matrix ${coarse.length} not a multiple of dim $dim")
    val dsub = dim / m
    val nLists = coarse.length / dim
    import emb.sparkSession.implicits._
    val sample: Array[Array[Double]] = emb
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .filter(size(col("v")) === dim)
      .withColumn("__h", hash(col("v")))
      .orderBy("__h")
      .limit(sampleSize)
      .select("v").as[Seq[Double]].collect()
      .map { s =>
        val a = s.toArray
        var n2 = 0.0; var j = 0
        while (j < a.length) { n2 += a(j) * a(j); j += 1 }
        val unit =
          if (n2 > 0) { val inv = 1.0 / math.sqrt(n2); a.map(_ * inv) } else a
        if (coarse.isEmpty) unit
        else {
          // residual against the nearest coarse centroid (argmax dot —
          // coarse centroids are unit, so that IS nearest-by-cosine)
          var best = 0; var bestDot = Double.NegativeInfinity
          var c = 0
          while (c < nLists) {
            var acc = 0.0; var i = 0
            while (i < dim) { acc += unit(i) * coarse(c * dim + i); i += 1 }
            if (acc > bestDot) { best = c; bestDot = acc }
            c += 1
          }
          Array.tabulate(dim)(i => unit(i) - coarse(best * dim + i))
        }
      }
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty corpus")

    val out = new Array[Double](m * ksub * dsub)
    var s = 0
    while (s < m) {
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      val k = math.min(ksub, sub.length)
      if (k < ksub && s == 0)
        // warn once: with fewer samples than codewords, only k slots get
        // trained; the remainder are FILLED below, never left all-zero
        // (an all-zero codeword sits at the residual origin and would
        // silently capture near-zero residuals, scrambling ADC order)
        System.err.println(
          s"trainCodebooks: sample ${sub.length} < ksub=$ksub — training " +
            s"$k codewords per subspace and duplicating them into the rest")
      val stride = math.max(1, sub.length / k)
      val cents = Array.tabulate(k)(i => sub(i * stride).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Int](k)
        sub.foreach { v =>
          var best = 0; var bestD = Double.PositiveInfinity
          var c = 0
          while (c < k) {
            var d = 0.0; var j = 0
            while (j < dsub) { val diff = v(j) - cents(c)(j); d += diff * diff; j += 1 }
            if (d < bestD) { best = c; bestD = d }
            c += 1
          }
          var j = 0
          while (j < dsub) { sums(best)(j) += v(j); j += 1 }
          counts(best) += 1
        }
        var c = 0
        while (c < k) {
          if (counts(c) > 0) cents(c) = sums(c).map(_ / counts(c))
          c += 1
        }
        it += 1
      }
      var c = 0
      while (c < k) {
        System.arraycopy(cents(c), 0, out, (s * ksub + c) * dsub, dsub)
        c += 1
      }
      // small-sample shortfall: duplicate trained codewords into the
      // untrained slots [k, ksub). A duplicate is inert (encode ties
      // break to the lower id; its LUT distance equals the original's),
      // whereas an all-zero codeword is an untrained magnet at the origin.
      c = k
      while (c < ksub) {
        System.arraycopy(out, (s * ksub + (c % k)) * dsub,
          out, (s * ksub + c) * dsub, dsub)
        c += 1
      }
      s += 1
    }
    out
  }

  /** PQ residual codes for a (vector, coarse-list) column pair (native
    * [[graft.plans.PqEncodeExpr]]; requires
    * `GraftFunctions.register(spark)`). Pass an empty `coarse` for
    * plain (non-residual) PQ.
    */
  def encode(vec: Column, list: Column, codebooks: Array[Double],
             coarse: Array[Double], m: Int, dsub: Int, ksub: Int): Column =
    call_function("graft_pq_encode", vec, list, typedlit(codebooks.toSeq),
      typedlit(coarse.toSeq), lit(m), lit(dsub), lit(ksub))

  /** ADC lookup table for one (query, probed list): `lut[sub*ksub + c]`
    * = squared L2 between the query's residual subvector (vs that
    * list's coarse centroid) and codebook centroid `c` of subspace
    * `sub`.
    */
  def lutFor(q: Array[Double], list: Int, codebooks: Array[Double],
             coarse: Array[Double], m: Int, dsub: Int,
             ksub: Int): Array[Double] = {
    val dim = m * dsub
    var n2 = 0.0; var j = 0
    while (j < q.length) { n2 += q(j) * q(j); j += 1 }
    val inv = if (n2 > 0) 1.0 / math.sqrt(n2) else 1.0
    val cOff = list * dim
    val r = Array.tabulate(dim)(i =>
      q(i) * inv - (if (coarse.isEmpty) 0.0 else coarse(cOff + i)))
    val lut = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        val off = (s * ksub + c) * dsub
        var d = 0.0
        j = 0
        while (j < dsub) {
          val diff = r(s * dsub + j) - codebooks(off + j)
          d += diff * diff
          j += 1
        }
        lut(s * ksub + c) = d
        c += 1
      }
      s += 1
    }
    lut
  }

  /** IVF-PQ top-k: coarse IVF lists give candidates, ADC over residual
    * PQ codes shortlists `k · rerankFactor` per query, exact cosine
    * reranks the shortlist to the final k. The queries frame is
    * collected to the driver to build per-(query, probe) LUTs —
    * queries are a small batch by contract (the LUT-based ADC design
    * assumes exactly that).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nList: Int = 64, nProbe: Int = 8,
                m: Int = 8, ksub: Int = 64, dim: Int = 64,
                rerankFactor: Int = 8, sampleSize: Int = 20000,
                iters: Int = 10): DataFrame = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val dsub = dim / m
    val coarse = Ivf.trainCentroids(corpus, vecCol, nList, dim, sampleSize, iters)
    val codebooks = trainCodebooks(corpus, vecCol, coarse, m, ksub, dim,
      sampleSize, iters)

    // corpus side: ids + coarse list + residual PQ codes — never vectors.
    // list materializes in the first projection so encode sees it as a
    // plain column (the assignment expression runs once per row).
    val encoded = corpus
      .select(col(idCol).as("neighbor_id"),
        element_at(Ivf.assignLists(col(vecCol), coarse, dim, 1), 1).as("list"),
        col(vecCol).as("__v"))
      .select(col("neighbor_id"), col("list"),
        encode(col("__v"), col("list"), codebooks, coarse, m, dsub, ksub)
          .as("codes"))

    // query side: driver-built (query, probed list, LUT) rows — small
    // batch × nProbe, broadcast into the candidate join
    import spark.implicits._
    val qRows: Array[(Long, Array[Double])] = queries
      .select(col(idCol).cast("long"),
        transform(col(vecCol), x => x.cast("double")))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id, v.toArray) }
    val qDf = qRows.toSeq.flatMap { case (id, v) =>
      probeLists(v, coarse, dim, nProbe).map { list =>
        (id, list, lutFor(v, list, codebooks, coarse, m, dsub, ksub).toSeq)
      }
    }.toDF("query_id", "list", "lut")

    val shortlist = encoded
      .join(broadcast(qDf), "list")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc",
        call_function("graft_pq_adc", col("codes"), col("lut"), lit(ksub)))
      .filter(col("adc").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc").asc, col("neighbor_id").asc)
    val cands = shortlist
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k * rerankFactor)
      .select("query_id", "neighbor_id")

    Similarity.rerankTopK(cands, corpus, queries, idCol, vecCol, k, dim)
  }

  /** IVF-PQ under fully ENGINE-NEUTRAL training — q79's oracle-checked
    * form since round 10, retiring the LAST rows-only query: the
    * coarse quantizer is the q75/q43 md5-derandomized k-means++ model
    * (shared oracle prefix), and each subspace codebook trains by
    * md5-Forgy seeding (the `ksub` residual subvectors with the
    * smallest salted per-id digests — a fixed uniform draw) plus
    * `cbIters` plain-L2 Lloyd steps as a relational fixpoint (DECIMAL
    * means per (codeword, dim), argmin on 6-decimal-rounded distances
    * with smallest-codeword-id ties, empty codewords drop — the q91
    * semantics in L2). Residual encoding is preserved (the
    * load-bearing detail — see the object scaladoc); ADC distances go
    * to INTEGER micro units before summation, so the shortlist order
    * is exact in any aggregation order (stronger than q89's
    * round-after-sum). Every stage replays in DuckDB.
    *
    * [[ivfPqTopK]] (driver-sampled trainers, native ADC gather)
    * remains the perf API. Scale shape: the residual relation is the
    * working set during training/encode (the trained path touches
    * vectors exactly once per stage); probes join ids+codes only.
    */
  def ivfPqTopKSeeded(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int = 5, nList: Int = 8,
                      nProbe: Int = 2, iters: Int = 2, m: Int = 4,
                      ksub: Int = 8, cbIters: Int = 2, candK: Int = 15,
                      dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val dsub = dim / m
    GraftFunctions.register(corpus.sparkSession)
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    val ids = Ivf.kppSeedIds(corpus, idCol, vecCol, nList, dim)
    def prep(df: DataFrame) =
      Similarity.withVecNorm(df, idCol, vecCol).repartition(col(idCol))
    val base = prep(corpus)
    val seeds = base.filter(col(idCol).isin(ids: _*))
      .select(col(idCol).as("cid"), col("v").as("cvec"),
        col("nrm").as("cnrm"))
    val cents = Ivf.assembleCentroids(
        Ivf.lloydIterateFrom(base, seeds, idCol, iters, dim))
      .localCheckpoint()
    // residual against the assigned (for probes: each probed) centroid
    def resid(src: DataFrame, outId: String, keep: Int): DataFrame = {
      val scored = src.crossJoin(broadcast(cents))
        .select(col(idCol), col("v"), col("nrm"), col("cid"), col("cvec"),
          round(Similarity.dotNative(col("v"), col("cvec"), dim) /
            (col("nrm") * col("cnrm")), 6).as("sim"))
      def residCol: Column = zip_with(
        transform(col("v"), x =>
          x / when(col("nrm") > 0.0, col("nrm")).otherwise(lit(1.0))),
        col("cvec"), (a, b) => a - b).as("r")
      if (keep == 1)
        // corpus side: argmax as a partial aggregate ([[Ivf.argmaxAssign]])
        // — the shuffle carries one combined row per id, not nList sorted
        // candidates; the window stays for the tiny multi-list probe side
        Ivf.argmaxAssign(scored, idCol, "cvec", "v", "nrm")
          .select(col(idCol).as(outId), col("list"), residCol)
      else {
        val w = Window.partitionBy(col(idCol))
          .orderBy(col("sim").desc, col("cid"))
        scored.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= keep)
          .select(col(idCol).as(outId), col("cid").as("list"), residCol)
      }
    }
    val asg = resid(base, "neighbor_id", 1).localCheckpoint()
    val prb = resid(prep(queries), "query_id", nProbe).localCheckpoint()
    def dist(a: Column, b: Column): Column =
      sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x))
    // All m subspaces train in ONE relational chain, keyed by `s` — the
    // math per subspace is untouched (seed keys, rounded-distance
    // argmins, DECIMAL means — bit-identical to m separate chains and
    // to the oracle's per-subspace CTEs), but the engine runs one job
    // per Lloyd stage instead of m: the (id, s, rv) relation carries
    // every subspace, argmins partition by (id, s), means group by
    // (s, cwid, pos), and the ≤ m·ksub-row codeword relation broadcasts
    // to every consumer. This collapsed the measured 6.5 s of m
    // sequential small-job chains at sf0.1 to one chain.
    def subSlices(src: DataFrame, keyCol: String): DataFrame =
      src.select(col(keyCol), explode(array((0 until m).map(s =>
          struct(lit(s).as("s"),
            slice(col("r"), s * dsub + 1, dsub).as("rv"))): _*)).as("sub"))
        .select(col(keyCol), col("sub.s").as("s"), col("sub.rv").as("rv"))
    // rs is a cheap explode over the ALREADY-checkpointed asg, so its
    // consumers (each Lloyd step, encode) just recompute it — no
    // checkpoint: materializing it would hold m× the corpus residuals
    // in the block manager for a recompute that costs one projection
    // (timed equal within noise at sf0.1). The codeword relation cw IS
    // checkpointed per step: it is ≤ m·ksub rows but every consumer
    // broadcasts it, and an un-checkpointed broadcast re-runs the whole
    // upstream chain per consumer (measured +2 s at sf0.1).
    val rs = subSlices(asg, "neighbor_id")
    // md5-Forgy seeds, selected per subspace by orderBy+limit — Spark
    // plans this as TakeOrderedAndProject (per-partition partial top-k,
    // driver merge of ksub rows), so seeding never global-sorts the
    // residual relation; m tiny jobs, unioned into one ≤ m·ksub-row
    // codeword relation
    var cw = (0 until m).map { s =>
      asg.select(col("neighbor_id"),
          slice(col("r"), s * dsub + 1, dsub).as("rv"))
        .orderBy(md5(concat(lit(s"graft:pqseed:$s:"),
          col("neighbor_id").cast("string"))), col("neighbor_id"))
        .limit(ksub)
        .select(lit(s).as("s"), col("neighbor_id").as("cwid"),
          col("rv").as("cw"))
    }.reduce(_ union _).localCheckpoint()
    // per-(id, s) argmin by (rounded distance ASC, cwid ASC) as a
    // partial-aggregating min(struct) — same selection as a row_number
    // window including NaN/null placement (the [[Ivf.argmaxAssign]]
    // argument, mirrored for ASC), one combined row per (id, s) per
    // partition on the shuffle instead of ksub sorted candidates
    var it = 0
    while (it < cbIters) {
      val assigned = rs.join(broadcast(cw), "s")
        .select(col("neighbor_id"), col("s"), col("rv"), col("cwid"),
          round(dist(col("rv"), col("cw")), 6).as("d"))
        .groupBy(col("neighbor_id"), col("s"))
        .agg(min(struct(col("d"), col("cwid"), col("rv"))).as("__w"))
        .select(col("s"), col("__w.cwid").as("cwid"), col("__w.rv").as("rv"))
      val means = assigned
        .select(col("s"), col("cwid"), posexplode(col("rv")).as(Seq("pos", "x")))
        .groupBy("s", "cwid", "pos")
        .agg((sum(col("x").cast(dec)).cast("double") / count(lit(1)))
          .as("mv"))
      cw = means.groupBy("s", "cwid")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mv")))),
          st => st.getField("mv")).as("cw"))
        .localCheckpoint()
      it += 1
    }
    // ---- ADC without the ×m blowup. The relational form — candidates
    // joined to per-(s, code) rows and re-aggregated — multiplies the
    // candidate relation by m and shuffles it back through a
    // (query, neighbor) groupBy; at the 10⁶-vector soak that 10⁹-row
    // intermediate exhausted local disk. Instead, mirror the native
    // perf API's shape relationally: codes become ONE array per
    // neighbor, the LUT becomes ONE map per (query, list) keyed by the
    // densified (s, codeword) index, and the ADC total is a per-row
    // m-term fold — one row per candidate end to end, and the
    // (query, neighbor) aggregation disappears entirely. The sum is
    // the same exact longs in a fixed order, so the shortlist (and the
    // DuckDB oracle, which keeps the relational join form) is
    // bit-identical.
    val cwd = cw.withColumn("ci",
        (row_number().over(Window.partitionBy(col("s"))
          .orderBy(col("cwid"))) - 1))
      .localCheckpoint() // ≤ m·ksub rows; broadcast by every consumer
    def argminCi(src: DataFrame, keyCol: String): DataFrame = {
      val a = src.join(broadcast(cwd), "s")
        .select(col(keyCol), col("s"), col("ci"), col("cwid"),
          round(dist(col("rv"), col("cw")), 6).as("d"))
      // ci rides as payload — never compared, cwid is unique per (key, s)
      a.groupBy(col(keyCol), col("s"))
        .agg(min(struct(col("d"), col("cwid"), col("ci"))).as("__w"))
        .select(col(keyCol), col("s"), col("__w.ci").as("ci"))
    }
    val encArr = argminCi(rs, "neighbor_id")
      .groupBy("neighbor_id")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("ci")))),
        st => st.getField("ci")).as("codes"))
    val prbSubs = prb.select(col("query_id"), col("list"), col("r"))
      .select(col("query_id"), col("list"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"),
            slice(col("r"), s * dsub + 1, dsub).as("rv"))): _*)).as("sub"))
      .select(col("query_id"), col("list"), col("sub.s").as("s"),
        col("sub.rv").as("rv"))
    val lutMap = prbSubs.join(broadcast(cwd), "s")
      .select(col("query_id"), col("list"),
        (col("s") * ksub + col("ci")).as("__k"),
        round(dist(col("rv"), col("cw")) * lit(1000000.0)).cast("long")
          .as("dm"))
      .groupBy("query_id", "list")
      .agg(map_from_entries(collect_list(struct(col("__k"), col("dm"))))
        .as("lm"))
    val cand = asg.select(col("neighbor_id"), col("list"))
      .join(prb.select(col("query_id"), col("list")), "list")
      .filter(col("neighbor_id") =!= col("query_id"))
    val adc = cand.join(encArr, "neighbor_id")
      .join(lutMap, Seq("query_id", "list"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0L),
          (acc, s) => acc + element_at(col("lm"),
            s * ksub + element_at(col("codes"), s + 1))).as("approx"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx").asc, col("neighbor_id"))
    val shortlist = adc.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= candK)
      .select("query_id", "neighbor_id")
    Similarity.rerankTopK(shortlist, corpus, queries, idCol, vecCol, k,
      dim)
  }

  // ---------------------------------------------------------- persistence

  /** Persist a trained IVF-PQ index: the corpus with coarse list id +
    * residual codes + (for the final rerank) the raw vector, written
    * `bucketBy(list)` into the table catalog, plus both model matrices
    * as `<table>_model` — self-contained: a later session reloads and
    * probes without retraining.
    *
    * Why bucketed: probing is an equi-join on `list`; the bucketed scan
    * satisfies that join's distribution, so every future probe shuffles
    * only the (tiny) query side — the pay-the-shuffle-once rationale of
    * [[Ivf.writeIndex]], with the additional PQ payoff that the
    * candidate phase reads codes, not vectors.
    */
  def writeIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 coarse: Array[Double], codebooks: Array[Double],
                 m: Int, dsub: Int, ksub: Int, table: String,
                 nBuckets: Int = 32): Unit = {
    // encode() accepts an empty coarse matrix (plain PQ), but THIS layout
    // buckets on the coarse list id — with no coarse centroids the
    // assignment degenerates and the index would be silently unusable.
    require(coarse.nonEmpty,
      "Pq.writeIndex is residual IVF-PQ only: coarse centroid matrix must " +
        "be non-empty (plain PQ has no list id to bucket by)")
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    corpus
      .select(col(idCol), col(vecCol),
        element_at(Ivf.assignLists(col(vecCol), coarse, m * dsub, 1), 1)
          .as("list"))
      .select(col(idCol), col(vecCol), col("list"),
        encode(col(vecCol), col("list"), codebooks, coarse, m, dsub, ksub)
          .as("codes"))
      .write.format("parquet")
      .bucketBy(nBuckets, "list").sortBy("list")
      .mode("overwrite").saveAsTable(table)
    import spark.implicits._
    // both matrices + the shape in one tiny table; shape rides on every
    // row so a decode with the wrong geometry is impossible
    val rows =
      coarse.zipWithIndex.map { case (v, i) => ("coarse", i, v, m, dsub, ksub) } ++
      codebooks.zipWithIndex.map { case (v, i) => ("codebook", i, v, m, dsub, ksub) }
    rows.toSeq.toDF("kind", "pos", "value", "m", "dsub", "ksub")
      .coalesce(1)
      .write.mode("overwrite").saveAsTable(s"${table}_model")
    // at-build coarse-fit reference for the drift check
    // ([[Ivf.distortionByList]] / [[IndexAudit.driftPq]])
    Ivf.distortionByList(spark, table, vecCol, m * dsub, coarse)
      .coalesce(1)
      .write.mode("overwrite").saveAsTable(s"${table}_health")
  }

  /** Retrain + rewrite a persisted IVF-PQ index from its OWN current
    * rows — the [[Ivf.rebuildIndex]] analog and the remedy
    * [[IndexAudit.driftPq]] points to: retrains BOTH stages (coarse
    * centroids, then residual codebooks) under the stored geometry
    * (m, dsub, ksub; coarse list count unless overridden) and rewrites
    * into the catalog's own bucket layout. Rows are localCheckpointed
    * first because the rewrite reads the table it replaces.
    */
  def rebuildIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                   idCol: String, vecCol: String,
                   nListOverride: Option[Int] = None,
                   sampleSize: Int = 20000, iters: Int = 10): Unit = {
    val (coarse0, _, m, dsub, ksub) = loadModel(spark, table)
    val dim = m * dsub
    val nList = nListOverride.getOrElse(coarse0.length / dim)
    val (nBuckets, _, _) = IndexAudit.bucketSpecOf(spark, table)
    val rows = spark.table(table).select(col(idCol), col(vecCol))
      .localCheckpoint()
    val coarse = Ivf.trainCentroids(rows, vecCol, nList, dim, sampleSize,
      iters)
    val codebooks = trainCodebooks(rows, vecCol, coarse, m, ksub, dim,
      sampleSize, iters)
    writeIndex(rows, idCol, vecCol, coarse, codebooks, m, dsub, ksub,
      table, nBuckets)
  }

  /** Reload the model persisted by [[writeIndex]]:
    * (coarse, codebooks, m, dsub, ksub).
    */
  /** Append new vectors to a persisted IVF-PQ index under the STORED
    * model — the corpus-growth step (the `Ivf.appendToIndex`
    * discipline): arrivals assign to the persisted coarse centroids
    * and encode against the persisted codebooks, so existing codes and
    * probe results never shift; `insertInto` honors the bucketing.
    * Codebook retraining is its own cadence — rebuild with
    * [[writeIndex]] when drift warrants it.
    */
  def appendToIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    table: String): Unit = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val (coarse, codebooks, m, dsub, ksub) = loadModel(spark, table)
    corpus
      .select(col(idCol), col(vecCol),
        element_at(Ivf.assignLists(col(vecCol), coarse, m * dsub, 1), 1)
          .as("list"))
      .select(col(idCol), col(vecCol), col("list"),
        encode(col(vecCol), col("list"), codebooks, coarse, m, dsub, ksub)
          .as("codes"))
      .write.mode("append").insertInto(table)
  }

  def loadModel(spark: org.apache.spark.sql.SparkSession,
                table: String): (Array[Double], Array[Double], Int, Int, Int) = {
    import spark.implicits._
    val model = spark.table(s"${table}_model")
    val (m, dsub, ksub) = model.select("m", "dsub", "ksub").limit(1)
      .as[(Int, Int, Int)].head()
    def mat(kind: String): Array[Double] = model
      .filter(col("kind") === kind).orderBy("pos")
      .select("value").as[Double].collect()
    (mat("coarse"), mat("codebook"), m, dsub, ksub)
  }

  /** IVF-PQ top-k against a PERSISTED index — no training, no
    * corpus-side shuffle in the candidate phase (the bucketed scan
    * feeds the list join; spec-pinned), ADC from stored codes, exact
    * rerank joining vectors back from the same table.
    */
  def pqTopKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
                    queries: DataFrame, idCol: String, vecCol: String,
                    k: Int, nProbe: Int = 8,
                    rerankFactor: Int = 8): DataFrame = {
    GraftFunctions.register(spark)
    val (coarse, codebooks, m, dsub, ksub) = loadModel(spark, table)
    val dim = m * dsub
    val indexed = spark.table(table)
    val encoded = indexed.select(col(idCol).as("neighbor_id"), col("list"),
      col("codes"))

    import spark.implicits._
    val qRows: Array[(Long, Array[Double])] = queries
      .select(col(idCol).cast("long"),
        transform(col(vecCol), x => x.cast("double")))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id, v.toArray) }
    val qDf = qRows.toSeq.flatMap { case (id, v) =>
      probeLists(v, coarse, dim, nProbe).map { list =>
        (id, list, lutFor(v, list, codebooks, coarse, m, dsub, ksub).toSeq)
      }
    }.toDF("query_id", "list", "lut")

    val shortlist = encoded
      .join(broadcast(qDf), "list")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc",
        call_function("graft_pq_adc", col("codes"), col("lut"), lit(ksub)))
      .filter(col("adc").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc").asc, col("neighbor_id").asc)
    val cands = shortlist
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k * rerankFactor)
      .select("query_id", "neighbor_id")
    Similarity.rerankTopK(cands, indexed, queries, idCol, vecCol, k, dim)
  }

  /** Nearest-`nProbe` coarse lists for a query vector — the same
    * dot-then-rank the native assignment expression performs.
    */
  private[ext] def probeLists(v: Array[Double], coarse: Array[Double],
                              dim: Int, nProbe: Int): Seq[Int] = {
    var n2 = 0.0; var j = 0
    while (j < v.length) { n2 += v(j) * v(j); j += 1 }
    val inv = if (n2 > 0) 1.0 / math.sqrt(n2) else 1.0
    val k2 = coarse.length / dim
    val dots = Array.tabulate(k2) { c =>
      var acc = 0.0; var i = 0
      while (i < dim) { acc += v(i) * inv * coarse(c * dim + i); i += 1 }
      (acc, c)
    }
    dots.sortBy { case (d, c) => (-d, c) }.take(nProbe).map(_._2).toSeq
  }

  /** PQ ADC top-k with EXEMPLAR codebooks — the oracle-checkable member
    * of the product-quantization family (q89): codewords for subspace
    * `s` are the `ksub` lowest-id unit vectors' sub-vectors (no k-means,
    * no residuals — the coarse stage is separately cross-checked by
    * q85), encode is argmin rounded-6 L2 with smallest-codeword-id
    * tie-break, ADC sums the per-subspace query-to-codeword distances,
    * and the shortlist (`k · rerankFactor` per query, rounded-6 sum so
    * both engines rank on the same decimal lattice) is exactly reranked
    * by cosine. Every stage is plain relational algebra mirrored by
    * q89's DuckDB oracle; [[ivfPqTopK]] keeps the trained
    * coarse+codebook machinery for production recall and the
    * compressed-storage story.
    *
    * Scale shape matches ADC-without-IVF: codes (m small ints per
    * vector) join the per-query LUT on (subspace, codeword) — the scan
    * never touches raw vectors until the bounded rerank.
    */
  def pqAdcTopKExemplar(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int, m: Int = 8,
                        ksub: Int = 16, dim: Int = 64,
                        rerankFactor: Int = 3): DataFrame = {
    val dsub = dim / m
    require(m * dsub == dim, s"dim $dim not divisible by m $m")
    def prep(df: DataFrame) = Similarity.withVecNorm(df, idCol, vecCol)
      .withColumn("u", transform(col("v"),
        x => x / when(col("nrm") > 0.0, col("nrm")).otherwise(lit(1.0))))
      .repartition(col(idCol))
    val base = prep(corpus)
    val sCol = explode(sequence(lit(0), lit(m - 1))).as("s")
    // codebooks: sub-vectors of the ksub lowest-id unit vectors; the
    // exemplar's own id doubles as the codeword id (injective, ordered)
    val cwSubs = base.orderBy(col(idCol)).limit(ksub)
      .select(col(idCol).as("cwid"), col("u").as("cu"))
      .select(col("cwid"), sCol, col("cu"))
      .select(col("s"), col("cwid"),
        slice(col("cu"), col("s") * dsub + 1, lit(dsub)).as("cw"))
    def dist(a: Column, b: Column): Column =
      round(sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)), 6)
    def subVecs(df: DataFrame, outId: String) = df
      .select(col(idCol).as(outId), sCol, col("u"))
      .select(col(outId), col("s"),
        slice(col("u"), col("s") * dsub + 1, lit(dsub)).as("sub"))
    // encode: argmin distance per (vector, subspace) — min(struct) is
    // the combinable argmin, (d, cwid) lexicographic = the tie-break
    val codes = subVecs(base, "neighbor_id").join(broadcast(cwSubs), "s")
      .select(col("neighbor_id"), col("s"), col("cwid"),
        dist(col("sub"), col("cw")).as("d"))
      .groupBy("neighbor_id", "s")
      .agg(min(struct(col("d"), col("cwid"))).as("best"))
      .select(col("neighbor_id"), col("s"), col("best.cwid").as("cwid"))
    val qlut = subVecs(prep(queries), "query_id").join(broadcast(cwSubs), "s")
      .select(col("query_id"), col("s"), col("cwid"),
        dist(col("sub"), col("cw")).as("d"))
    // ADC: approx(q, v) = Σ_s lut(q, s, code(v, s)); the sum of m
    // rounded-6 terms snaps back onto the decimal lattice, so a second
    // round(…, 6) makes the shortlist order engine-independent
    val adc = codes.join(qlut, Seq("s", "cwid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(round(sum(col("d")), 6).as("approx"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx"), col("neighbor_id"))
    val shortlist = adc.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k * rerankFactor)
      .select("query_id", "neighbor_id")
    Similarity.rerankTopK(shortlist, corpus, queries, idCol, vecCol, k, dim)
  }
}

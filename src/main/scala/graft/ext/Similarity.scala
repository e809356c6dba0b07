package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

/** Similarity search over embedding columns (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path.
  *
  * Scale design: the brute-force path broadcasts the (small) query set so
  * the corpus is scanned exactly once with no shuffle until the final
  * per-query top-k (a windowed rank over |queries|·k rows). The LSH path
  * replaces the full scan with an equi-join on signature buckets —
  * corpus-size-independent probe cost per query.
  */
object Similarity {

  /** Largest query relation [[rerankTopK]] will force-broadcast:
    * 2^18 rows ≈ 135 MB of prepped (id, vec, norm) rows at dim 128 —
    * comfortably inside executor broadcast budgets on a shared cluster.
    * Beyond it the rerank degrades to a planner-chosen join instead of
    * failing on the broadcast size limit.
    */
  val BroadcastQueryRowLimit: Int = 1 << 18

  /** All arithmetic in double: float32 inputs upcast once, keeping results
    * reproducible across engines.
    */
  private def asDouble(vec: Column): Column =
    transform(vec, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Dot product unrolled for a statically-known dimension: a codegen'd
    * chain of `element_at` products instead of an interpreted HOF fold
    * (~10× faster in the pairwise hot path). Left-associated sum = the
    * exact same float result as the HOF fold, so the two are
    * interchangeable under oracle comparison.
    */
  def dotUnrolled(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map(i =>
      element_at(a, i).cast("double") * element_at(b, i).cast("double"))
      .reduce(_ + _)

  /** Native fixed-dim dot (`graft.plans.DotExpr`; requires
    * `GraftFunctions.register`) — bit-identical to [[dotUnrolled]]
    * (left-associated double accumulation; spec-pinned) at ~100× less
    * per-pair cost in all-pairs hot paths, where the 2×dim `element_at`
    * chain measured 7.5 µs per 64-dim evaluation.
    */
  def dotNative(a: Column, b: Column, dim: Int): Column =
    call_function("graft_dot", a, b, lit(dim))

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** The (id, v, nrm) projection every cosine-family operator starts
    * from: double-cast vector plus ONE norm per row. Callers append any
    * derived columns (signatures, unit vectors) and then place an
    * optimization barrier (`repartition` on the id) so the collapsed
    * projection cannot re-derive the norm per pair — the shared
    * exemplar-family pattern (q84-q89).
    */
  def withVecNorm(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Cosine similarity, rounded to 6 decimals so last-ulp float noise
    * cannot reorder near-ties across engines.
    */
  def cosine(a: Column, b: Column): Column = {
    val ad = asDouble(a); val bd = asDouble(b)
    round(dot(ad, bd) / (norm(ad) * norm(bd)), 6)
  }

  /** Exact brute-force top-k: for every query row, the k nearest corpus
    * rows by cosine (self-matches excluded). Queries are broadcast so the
    * corpus is scanned once with no shuffle before the final per-query
    * top-k. Norms are computed once per row (not per pair) and the
    * per-pair dot product is unrolled/codegen'd when `dim` is known.
    * Ranking ties break deterministically by corpus id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int,
                     dim: Option[Int] = None): DataFrame = {
    val q = scoringSide(queries, idCol, vecCol, "query_id", "qvec", "qn")
    val c = scoringSide(corpus, idCol, vecCol, "neighbor_id", "cvec", "cn")
    val dotCol = dim match {
      case Some(d) => dotNative(col("qvec"), col("cvec"), d)
      case None => dot(col("qvec"), col("cvec"))
    }
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dotCol / (col("qn") * col("cn")), 6).as("sim"))
    topKPerQuery(scored, k)
  }

  /** One side of a cosine scoring: the id renamed to `id`, the vector
    * cast to double under `v`, its norm under `n`, computed once per
    * row, and any `extra` columns of `df`. */
  private[ext] def scoringSide(df: DataFrame, idCol: String, vecCol: String,
                               id: String, v: String, n: String,
                               extra: Column*): DataFrame =
    df.select(Seq(col(idCol).as(id),
        transform(col(vecCol), x => x.cast("double")).as(v)) ++ extra: _*)
      .withColumn(n, norm(col(v)))

  /** The cosine of a `(qvec, qn)` × `(cvec, cn)` pair as every exact
    * scorer rounds it: the fixed-dim native dot over the two norms, to 6
    * decimals. */
  private[ext] def pairSim(dim: Int): Column =
    round(dotNative(col("qvec"), col("cvec"), dim) /
      (col("qn") * col("cn")), 6)

  /** The per-query top-k every cosine scorer ends with: a row_number
    * windowed by `query_id` over the `(sim desc, neighbor_id)` total
    * order, keeping ranks 1..k as (query_id, rank, neighbor_id, sim). */
  private[ext] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Whether `queries` has at most `limit` rows — one `limit(n+1).count()`
    * job; what [[rerankTopK]] checks before it forces a broadcast. */
  private[ext] def fitsBroadcast(queries: DataFrame,
                                 limit: Int = BroadcastQueryRowLimit): Boolean =
    queries.limit(limit + 1).count() <= limit

  /** Exact cosine rerank of a candidate `(query_id, neighbor_id)` set:
    * vectors + norms join back by id (norms computed once per row), the
    * fixed-dim dot scores each pair, and a per-query window keeps top-k
    * with the deterministic `(sim desc, neighbor_id)` tie-break. Shared
    * by every ANN index family (LSH, IVF) so ranking/rounding semantics
    * cannot drift between them.
    *
    * The query side is broadcast only below [[BroadcastQueryRowLimit]]
    * rows (a cheap `limit(n+1).count()` probe): the hint is a FORCE, and
    * this is a public API that takes caller-supplied query relations —
    * an oversized one must degrade to a planner-chosen shuffle join, not
    * die on a driver OOM / broadcast size limit. Within the gate the
    * broadcast shape is the soak-pinned one (thin pairs first, query
    * vectors never sorted).
    */
  def rerankTopK(cands: DataFrame, corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int, dim: Int,
                 broadcastLimit: Int = BroadcastQueryRowLimit): DataFrame =
    rerankPairs(cands, corpus, queries, idCol, vecCol, k, dim,
      fitsBroadcast(queries, broadcastLimit))

  /** [[rerankTopK]] with the broadcast decision already made. */
  private[ext] def rerankPairs(cands: DataFrame, corpus: DataFrame,
                               queries: DataFrame, idCol: String,
                               vecCol: String, k: Int, dim: Int,
                               broadcastQueries: Boolean): DataFrame = {
    // Join order is load-bearing at scale: the corpus join (sort-merge
    // on neighbor_id) runs FIRST, while the candidate rows are still
    // thin (query_id, neighbor_id) pairs — its sort never carries
    // vectors. The query side joins SECOND as an explicit broadcast
    // (probes are the small side of this API by construction), so the
    // vector-laden stream flows through a hash join and straight into
    // the scoring projection without ever being sorted. The reverse
    // order — query vectors attached first — sent 512-byte rows into
    // the corpus join's sort: ~70 GB of spill at the 10⁶-corpus soak,
    // vs ~2 GB for the thin form. Same rows either way (inner joins).
    val preppedQ =
      scoringSide(queries, idCol, vecCol, "query_id", "qvec", "qn")
    val qSide = if (broadcastQueries) broadcast(preppedQ) else preppedQ
    val scored = cands
      .join(scoringSide(corpus, idCol, vecCol, "neighbor_id", "cvec", "cn"),
        "neighbor_id")
      .join(qSide, "query_id")
      .select(col("query_id"), col("neighbor_id"), pairSim(dim).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Per-vector symmetric int8 scalar quantization: `scale = max|v_i|`,
    * `q_i = round(v_i · 127 / scale) ∈ [-127, 127]` (all-zero vector →
    * all-zero codes). Appended to [[withVecNorm]]'s projection, so callers
    * get `(id, v, nrm, qmax, qvec)` in ONE corpus pass.
    *
    * Every step is engine-portable: `max|v_i|` is exact, the scaled
    * division is one IEEE-double expression evaluated in the same shape
    * everywhere (`x * 127.0 / qmax`, left-associated), and `round` is
    * half-away-from-zero on both Spark (BigDecimal HALF_UP) and DuckDB
    * (std::round) — so the quantized codes, and everything derived from
    * them, are bit-identical cross-engine (q112's oracle rebuilds the
    * same lists in SQL).
    *
    * Scale rationale: the quantized corpus is what a 100 TB ANN index
    * actually holds in memory — int8 codes are 4× smaller than float32
    * (8× smaller than the double upcast), and the candidate scan runs on
    * exact long arithmetic, which vectorizes and never spills precision.
    */
  def withInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    withVecNorm(df, idCol, vecCol)
      .withColumn("qmax",
        aggregate(col("v"), lit(0.0), (acc, x) => greatest(acc, abs(x))))
      .withColumn("qvec",
        transform(col("v"), x =>
          when(col("qmax") === 0.0, lit(0L))
            .otherwise(round(x * lit(127.0) / col("qmax")).cast("long"))))

  /** Exact long dot over two quantized code arrays (HOF fold) — the
    * reference formulation of [[dotInt8Native]], which is bit-identical
    * (trivially, since every intermediate is an exact integer;
    * spec-pinned).
    */
  def dotInt8(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Native int8 code dot (`graft_dot_i8`, `Int8DotExpr`): the scan dot
    * of every int8 operator, at ~100× less per-pair cost than
    * [[dotInt8]]. */
  def dotInt8Native(a: Column, b: Column, dim: Int): Column =
    call_function("graft_dot_i8", a, b, lit(dim))

  /** Int8 scalar-quantized top-k: the candidate scan runs entirely on
    * int8 codes — `approx = scale_q · scale_c · ⟨q_q, q_c⟩ / (‖q‖‖c‖)`, a
    * single exact-integer dot rescaled per pair — keeps the best
    * `candK` per query, and exact float cosine reranks only those
    * (shared [[rerankTopK]], so ranking/rounding semantics match every
    * other ANN family).
    *
    * Unlike LSH/IVF this family is oracle-checkable WITHOUT an exemplar
    * twin: quantization is deterministic (no trained state, no RNG) and
    * the scan's integer arithmetic has no float-ordering hazard, so the
    * full quantize→scan→rerank pipeline hash-checks cross-engine (q112).
    *
    * At scale the quantized scan is the memory path — the index holds
    * int8 codes (4× smaller than float32), the full-precision vectors
    * are fetched only for the |queries|·candK rerank rows — and recall
    * is bounded by quantization error alone (≥ LSH/IVF at equal candK;
    * spec-measured vs brute force).
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, k: Int, dim: Int, candK: Int = 20): DataFrame = {
    // withInt8 keeps the caller's id column name; re-project explicitly
    val c = withInt8(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("nrm").as("cn"),
        col("qmax").as("cmax"), col("qvec").as("cq"))
    val q = withInt8(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("nrm").as("qn"),
        col("qmax").as("qmaxv"), col("qvec").as("qq"))
    val idot = dotInt8Native(col("qq"), col("cq"), dim)
    // same expression shape as the oracle: (qs/127 * cs/127 * idot) / (qn*cn)
    val approx = round(
      (col("qmaxv") / 127.0) * (col("cmax") / 127.0) * idot.cast("double") /
        (col("qn") * col("cn")), 6)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), approx.as("approx_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_sim").desc, col("neighbor_id"))
    val cands = scored.withColumn("crank", row_number().over(w))
      .filter(col("crank") <= candK)
      .select("query_id", "neighbor_id")
    rerankTopK(cands, corpus, queries, idCol, vecCol, k, dim)
  }

  /** Matryoshka-style truncated-dimension top-k (Kusupati et al. 2022 —
    * public paper; no code consulted): the candidate scan scores cosine
    * on only the first `prefixDim` dimensions — prefix dot over prefix
    * norms, reusing [[dotNative]] which reads exactly the first `dim`
    * slots — keeps the best `candK` per query, and full-dimension exact
    * cosine reranks that shortlist (shared [[rerankTopK]]).
    *
    * Like int8 ([[int8TopK]]) and unlike LSH/IVF, there is no trained
    * state and no RNG, so the whole pipeline is oracle-checkable
    * (q115: DuckDB reproduces the prefix scores from list slices).
    *
    * Scale story: the scan reads a `prefixDim/dim` fraction of the
    * vector bytes (16/64 = 4× less IO and FLOPs here), and composes
    * with int8 quantization for 16× total scan reduction — the standard
    * funnel shape for web-scale retrieval (cheap wide scan, exact
    * narrow rerank). Recall is governed by how much of the embedding's
    * energy the prefix carries: trained-matryoshka embeddings
    * front-load it; on untrained embeddings choose candK accordingly
    * (spec measures both regimes).
    */
  def truncatedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, dim: Int, prefixDim: Int,
                    candK: Int = 20): DataFrame = {
    require(prefixDim >= 1 && prefixDim <= dim,
      s"prefixDim $prefixDim must be in [1, $dim]")
    def prep(df: DataFrame, id: String, v: String, pn: String) =
      df.select(col(idCol).as(id),
          transform(col(vecCol), x => x.cast("double")).as(v))
        .withColumn(pn, sqrt(dotNative(col(v), col(v), prefixDim)))
    val c = prep(corpus, "neighbor_id", "cvec", "cpn")
    val q = prep(queries, "query_id", "qvec", "qpn")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dotNative(col("qvec"), col("cvec"), prefixDim) /
          (col("qpn") * col("cpn")), 6).as("approx_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_sim").desc, col("neighbor_id"))
    val cands = scored.withColumn("crank", row_number().over(w))
      .filter(col("crank") <= candK)
      .select("query_id", "neighbor_id")
    rerankTopK(cands, corpus, queries, idCol, vecCol, k, dim)
  }

  /** Deterministic random hyperplanes (seeded), shipped as literals. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane signature: bit i = sign(vec · plane_i), folded into
    * one long (nPlanes ≤ 63). Pure projection.
    *
    * Deliberately a HOF fold, NOT an unrolled multiply-add chain: with
    * nPlanes×dim literal terms (×probes×tables at call sites) unrolling
    * inflates the generated code past JIT/janino limits and compile time
    * dominates the query (measured 45× slowdown at nPlanes=6, nTables=8,
    * dim=64). Signatures are computed once per (row, table); the HOF
    * interpretation cost is negligible at that cardinality.
    */
  def rhpSignature(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val vd = asDouble(vec)
    val bits = planes.map { p =>
      when(dot(vd, typedlit(p)) >= 0, 1L).otherwise(0L)
    }
    bits.reduce((acc, b) => acc * 2 + b)
  }

  /** md5-derived ±1 (Rademacher) hyperplanes — the PORTABLE plane
    * family: plane(p)(j) = +1 iff the high bit of the first md5 byte of
    * "graft:rhp:p:j" is set, i.e. iff the first hex char of the digest
    * is in [89abcdef]. Unlike [[hyperplanes]]'s seeded-JVM-Gaussian
    * family this is reproducible by any engine with an md5 function
    * (q86's DuckDB oracle derives the identical matrix from
    * `substr(md5(...), 1, 1)`), the same portability route the
    * MinHash/SimHash md5 families took. Random-sign projections are a
    * standard RHP variant for angular LSH: only the direction
    * distribution changes (hypercube corners instead of Gaussian
    * sphere), the sign(v · plane) signature and its collision-by-angle
    * behavior are the same construction.
    */
  def portablePlanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      (0 until dim).map { j =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"graft:rhp:$p:$j".getBytes("UTF-8"))
        if ((h(0) & 0x80) != 0) 1.0 else -1.0
      }
    }

  /** The multi-table portable plane family: table `t`'s planes derive
    * from the salted digests `graft:rhp:t<t>:<p>:<j>` — disjoint from
    * the single-table [[portablePlanes]] salt space, so q86 and the
    * multi-table members can never share a plane by accident.
    */
  def portablePlanesTable(table: Int, nPlanes: Int,
                          dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      (0 until dim).map { j =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"graft:rhp:t$table:$p:$j".getBytes("UTF-8"))
        if ((h(0) & 0x80) != 0) 1.0 else -1.0
      }
    }

  /** Multi-table LSH top-k with md5-derived ±1 planes — q31's
    * ORACLE-CHECKED form since round 10 (the OR-construction that was
    * previously the JVM-RNG Gaussian family's distinguishing feature,
    * now derandomized): `nTables` independent portable plane sets,
    * candidates = the union of exact-signature bucket mates across
    * tables (deduplicated — a pair colliding in several tables must
    * count once), exact cosine rerank. More tables trade candidate
    * volume for recall exactly as in the Gaussian construction; only
    * the plane distribution changed (hypercube corners vs sphere).
    * [[lshTopK]] keeps the seeded-Gaussian/native-signature machinery
    * as the perf API (still recall-spec-pinned).
    */
  def lshTopKPortableMulti(corpus: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String, k: Int,
                           nTables: Int = 4, nPlanes: Int = 6,
                           dim: Int = 64): DataFrame = {
    val sigsOf = (df: DataFrame, outId: String) =>
      df.select(col(idCol).as(outId),
          posexplode(array((0 until nTables).map(t =>
            rhpSignature(col(vecCol), portablePlanesTable(t, nPlanes, dim))
          ): _*)).as(Seq("tbl", "sig")))
    val cands = sigsOf(corpus, "neighbor_id")
      .join(sigsOf(queries, "query_id"), Seq("tbl", "sig"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    rerankTopK(cands, corpus, queries, idCol, vecCol, k, dim)
  }

  /** LSH top-k with the portable plane family — the oracle-checkable
    * member of the LSH family (q86): single table, exact-signature
    * buckets, exact rerank. [[lshTopK]] keeps the multi-table /
    * multi-probe / native-signature machinery for production recall;
    * this member exists so the bucket-then-rerank pipeline itself is
    * verified cross-engine (the bucket partition is engine-agnostic:
    * any injective encoding of the sign bits yields the same equality
    * classes, so the oracle can carry its signature as a bit string).
    */
  def lshTopKPortable(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, nPlanes: Int = 4,
                      dim: Int = 64): DataFrame = {
    val planes = portablePlanes(nPlanes, dim)
    val csig = corpus.select(col(idCol).as("neighbor_id"),
      rhpSignature(col(vecCol), planes).as("sig"))
    val qsig = queries.select(col(idCol).as("query_id"),
      rhpSignature(col(vecCol), planes).as("sig"))
    val cands = csig.join(qsig, "sig")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    rerankTopK(cands, corpus, queries, idCol, vecCol, k, dim)
  }

  /** Native-expression RHP signature (`graft.plans.RhpSigExpr`,
    * bit-identical to `rhpSignature(vec, hyperplanes(nPlanes, dim, seed))`
    * — spec-pinned). The plane matrix lives in the expression object, so
    * the plan carries 3 scalars instead of nPlanes×dim literal doubles —
    * which is what made the HOF formulation blow up analysis/optimizer
    * time at the multi-table call sites (round-1 q31: 317 s for 2 000
    * vectors, ~all of it driver-side). Requires
    * `GraftFunctions.register(spark)`.
    */
  def rhpSignatureNative(vec: Column, nPlanes: Int, dim: Int,
                         seed: Long): Column =
    call_function("graft_rhp_sig", vec, lit(nPlanes), lit(dim), lit(seed))

  /** LSH-bucketed approximate top-k: standard multi-table random-hyperplane
    * LSH. Each of `nTables` independent tables hashes every vector to an
    * `nPlanes`-bit bucket; candidates are corpus rows sharing a bucket with
    * the query in ANY table (single-bit multi-probe included), then exact
    * cosine reranks the candidate set only.
    *
    * Recall/cost dial: more tables or fewer planes → higher recall, more
    * rerank work. All tables are generated in ONE projection per side
    * (an array of (table, bucket) structs, exploded) so the corpus is still
    * scanned once; the only shuffle is the bucket equi-join + final top-k.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nPlanes: Int = 12, nTables: Int = 4,
              seed: Long = 42L): DataFrame = {
    val dim = 64 // embeddings table layout; parameterize when schema varies
    val tables = 0 until nTables
    def sig(vec: Column, t: Int): Column =
      rhpSignatureNative(vec, nPlanes, dim, seed + t)

    def corpusKeys(vec: Column): Column = array(tables.map { t =>
      struct(lit(t).as("tbl"), sig(vec, t).as("bucket"))
    }: _*)

    // per-table signatures materialize as named columns FIRST, probes then
    // XOR the attribute — each signature expression appears once in the
    // plan instead of once per probe (nPlanes+1 times), which otherwise
    // explodes codegen size (CollapseProject keeps multi-referenced
    // non-trivial aliases un-inlined)
    val sigCols = tables.map { t =>
      sig(col(vecCol), t).as(s"__sig_$t")
    }
    val qSigned = queries.select(
      (col(idCol).as("query_id") +: sigCols): _*)
    val probeArr = array(tables.flatMap { t =>
      (-1 until nPlanes).map { bit =>
        val base = col(s"__sig_$t")
        val probe = if (bit < 0) base else base.bitwiseXOR(lit(1L << bit))
        struct(lit(t).as("tbl"), probe.as("bucket"))
      }
    }: _*)

    // the bucket join + dedup carries ONLY ids — vectors would bloat the
    // shuffle |tables|-fold; they are joined back for the tiny candidate set
    val c = corpus.select(col(idCol).as("neighbor_id"),
        explode(corpusKeys(col(vecCol))).as("key"))
    val q = qSigned.select(col("query_id"), explode(probeArr).as("key"))
    val cands = c.join(q, "key")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .distinct() // a pair can collide in several tables/probes
    rerankTopK(cands, corpus, queries, idCol, vecCol, k, dim)
  }
}

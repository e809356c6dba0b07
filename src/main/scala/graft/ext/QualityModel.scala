package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The hashed-linear quality-classifier family — the model-based
  * curation filter end to end: fixed-weight inference (the original
  * md5-derived "model"), IN-ENGINE balanced training as a relational
  * gradient fixpoint, trained-weight serving through the same
  * inference plan, and the persisted-model read/write/refresh cycle.
  * Split out of [[TextOps]] in round 9 (the file had crossed 1,600
  * lines); every member kept its exact behavior — the q99/q139-q144
  * oracle gates and `QualityTrainSpec`'s plain-Scala replay pin it.
  */
object QualityModel {

  /** Model-based quality filtering — the linear-classifier curation step
    * (fastText-style: Joulin et al. 2016; used for corpus filtering in
    * CCNet and GPT-3's quality classifier, both public): each document's
    * tokens hash into `nBuckets` feature buckets, each bucket carries a
    * fixed weight, and the document's logit is the mean bucket weight.
    * Documents with `quality_logit >= threshold` are `kept`.
    *
    * Weights here are DERIVED from md5 (bucket → integer milli-weight in
    * [-1000, 1000]) rather than loaded — the engine-side contract is the
    * inference plan, not a particular trained model; swapping in real
    * weights is a broadcast-join or a literal-map change. The md5
    * derivation makes the operator end-to-end oracle-checkable.
    *
    * Numerics are exact by construction: per-token weights are INTEGER
    * millis, the per-document sum is an integer (order-independent in any
    * engine — no float-sum drift possible), and the single double
    * division at the end is floor-truncated to 6 decimals, so the scores
    * are bit-identical across engines including at threshold boundaries.
    *
    * Scale shape: a pure zero-shuffle projection (array transform +
    * integer fold per document); at 100 TB it runs entirely map-side at
    * scan parallelism, like the other text-quality passes.
    *
    * Appends `n_tokens`, `logit_milli` (exact integer sum),
    * `quality_logit` (truncated mean), `kept`.
    *
    * NULL-document policy (explicit): a NULL `textCol` propagates NULL
    * through `n_tokens`/`logit_milli`/`quality_logit` (there is nothing
    * to score), but `kept` is coalesced to FALSE — a null document is
    * never kept, so `filter(col("kept"))` drops it and
    * `filter(!col("kept"))` retains it in the dropped set, instead of
    * both filters silently discarding it on a NULL flag.
    */
  def qualityClassifierScore(df: DataFrame, textCol: String,
                             nBuckets: Int = 1024,
                             threshold: Double = 0.0,
                             salt: String = "graft"): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val toks = split(trim(lower(col(textCol))), "\\s+")
    // token → bucket → milli-weight, all through 32-bit md5 prefixes
    // (engine-portable: conv(hex,16,10) ≡ ('0x'||hex)::BIGINT)
    val wMilli = transform(toks,
      t => mdWeightMilli(featureBucket(t, nBuckets, salt), salt))
    val n = size(toks)
    val zMilli = aggregate(wMilli, lit(0L), (acc, x) => acc + x)
    // one IEEE division then floor-truncate: bit-identical cross-engine
    val score = floor(zMilli / (n * lit(1000.0)) * 1e6) / 1e6
    df.withColumn("n_tokens", n.cast("long"))
      .withColumn("logit_milli", zMilli)
      .withColumn("quality_logit", score)
      .withColumn("kept", coalesce(score >= threshold, lit(false)))
  }

  /** The quality-classifier family's ONE feature-hash definition: token
    * → 32-bit md5 prefix → bucket in [0, nBuckets). Teacher weights,
    * training, and trained-weight inference must all hash identically
    * or a trained lattice silently misbinds at serving time.
    */
  private def featureBucket(tok: Column, nBuckets: Int,
                            salt: String): Column =
    conv(substring(md5(concat(lit(s"f:$salt:"), tok)), 1, 8), 16, 10)
      .cast("long") % nBuckets

  /** The fixed md5-derived milli-weight of a bucket — the scorer's
    * built-in "model" and the teacher that plants separable labels for
    * [[trainQualityClassifier]]'s spec corpus. */
  private def mdWeightMilli(bucket: Column, salt: String): Column =
    conv(substring(md5(concat(lit(s"w:$salt:"), bucket.cast("string"))),
      1, 8), 16, 10).cast("long") % 2001 - 1000

  /** [[qualityClassifierScore]]'s inference plan under TRAINED weights
    * (micro-logits, index = bucket) instead of the md5-derived lattice:
    * same tokenization, same [[featureBucket]] hash, same zero-shuffle
    * projection shape and NULL policy; only the per-token weight lookup
    * changes (element_at on the broadcast weight literal). This is the
    * serving half of [[trainQualityClassifier]] — train once, then
    * score any corpus with the exact inference operator the fixed-model
    * path already pins.
    *
    * Appends `n_tokens`, `logit_micro` (exact integer Σ w[bucket]),
    * `quality_logit` (floor-truncated per-token mean, in logits), and
    * `kept` (mean ≥ threshold; NULL text → kept=false).
    */
  def qualityClassifierScoreWith(df: DataFrame, textCol: String,
                                 weightsMicro: Seq[Long],
                                 threshold: Double = 0.0,
                                 salt: String = "graft"): DataFrame = {
    require(weightsMicro.nonEmpty, "empty weight lattice")
    val nBuckets = weightsMicro.size
    val wLit = typedlit(weightsMicro)
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val wMicro = transform(toks, t =>
      element_at(wLit, (featureBucket(t, nBuckets, salt) + 1).cast("int")))
    val n = size(toks)
    val zMicro = aggregate(wMicro, lit(0L), (acc, x) => acc + x)
    val score = floor(zMicro / (n * lit(1000000.0)) * 1e6) / 1e6
    df.withColumn("n_tokens", n.cast("long"))
      .withColumn("logit_micro", zMicro)
      .withColumn("quality_logit", score)
      .withColumn("kept", coalesce(score >= threshold, lit(false)))
  }

  /** Train the quality classifier IN-ENGINE — logistic regression by
    * full-batch gradient steps under a hard-sigmoid link, run as a
    * relational fixpoint on the Lloyd-trainer discipline
    * ([[graft.ext.Ivf]]'s `lloydIterateExemplar`): per step, ONE
    * aggregation produces the ≤nBuckets-row gradient lattice, the
    * driver folds it into its bounded weight vector (nBuckets longs —
    * the only driver state), and the next step re-scores under the
    * updated literal. Real curation pipelines train exactly this hashed
    * linear model on labeled seed corpora (CCNet / GPT-3 quality
    * filtering — public recipes, no code consulted).
    *
    * Numerics are integer-exact end to end, which is what lets the
    * catalog gate the TRAINING itself against DuckDB (q139/q140, the
    * q134 unrolled-iteration pattern):
    *  - features x(d,b) = exact token counts per bucket (same
    *    tokenization + [[featureBucket]] hash as the scorers);
    *  - logit z_micro(d) = Σ_b w_micro(b)·x(d,b), an exact long;
    *  - hard sigmoid p_micro = clamp(5·10⁵ + z_micro div 4, 0, 10⁶) —
    *    slope 1/4 at the origin (= σ′(0)); `div` TRUNCATES toward zero,
    *    which is what DuckDB's integer `//` does too (verified: -7//2
    *    = -3 there — it does NOT floor, so floorDiv/shiftright would
    *    drift one unit on negative logits);
    *  - gradient g(b) = Σ_d (y_micro − p_micro)·cw_milli(class)·x(d,b),
    *    exact, with BALANCED class weights cw_milli = 10³·D/(2·D_class)
    *    (sklearn's class_weight='balanced' recipe, public — without it
    *    the intercept-free model on nonnegative count features
    *    collapses to the majority class, measured at every lr);
    *  - update Δw_micro(b) = (lrPpm/k)·g(b) / (10⁹·D) at step k — a
    *    mean-gradient step under harmonic lr decay; Scala Long `/`
    *    truncates, again ≡ DuckDB `//`.
    *
    * Scale shape: the per-doc sparse feature vector (an array of
    * (bucket, count) structs) is built ONCE and cached — at 100 TB
    * that is the only pass over the documents — and each step is a
    * pure broadcast-literal PROJECTION (logit, sigmoid, weighted error
    * — features are doc-local, so no per-step id shuffle and no join)
    * followed by one bucket-keyed aggregate (≤nBuckets rows out).
    * Steps are fixed and small; lineage doesn't grow (each
    * step re-derives from the cached counts). Overflow bound: the
    * update multiplies lrPpm·g and g carries the milli class weight,
    * so keep lrPpm·10⁹·cw_milli·(tokens in the heaviest bucket) < 2⁶³
    * — at the defaults and near-balanced classes that allows ~10¹⁰
    * tokens per bucket; raise nBuckets with corpus size as usual, and
    * under extreme imbalance (cw_milli large) subsample the majority
    * class into the seed set first, which is the standard recipe
    * anyway.
    *
    * `labelCol` is boolean (true = positive). Returns the dense trained
    * lattice, index = bucket, in micro-logits.
    */
  def trainQualityClassifier(labeled: DataFrame, idCol: String,
                             textCol: String, labelCol: String,
                             nBuckets: Int = 1024, steps: Int = 6,
                             lrPpm: Long = 200000L,
                             salt: String = "graft",
                             init: Option[Seq[Long]] = None): Array[Long] = {
    require(nBuckets > 0 && steps > 0 && lrPpm > 0,
      s"bad nBuckets/steps/lrPpm: $nBuckets/$steps/$lrPpm")
    init.foreach(w0 => require(w0.size == nBuckets,
      s"init lattice has ${w0.size} buckets, trainer told $nBuckets"))
    val toks = split(trim(lower(col(textCol))), "\\s+")
    // ONE row per document: its bucket-count sparse vector as an array
    // of (b, x) structs. With features doc-local, the per-step logit is
    // a pure PROJECTION (no per-step id shuffle, no join back) — the
    // only per-step exchange is the ≤nBuckets-key gradient aggregate.
    // (The first cut joined doc-level errors back onto a (doc, b, x)
    // relation — an id-keyed shuffle per step that tripled the query's
    // bench time.)
    val feats = labeled
      .select(col(idCol), col(labelCol),
        explode(toks).as("__tok"))
      .select(col(idCol), col(labelCol),
        featureBucket(col("__tok"), nBuckets, salt).as("b"))
      .groupBy(col(idCol), col(labelCol), col("b"))
      .agg(count(lit(1)).as("x"))
      .groupBy(col(idCol), col(labelCol))
      .agg(collect_list(struct(col("b"), col("x"))).as("f"))
      .cache()
    try {
      // class census (bounded: 2 rows) — quality seed sets are heavily
      // positive-skewed, and an intercept-free model on nonnegative
      // count features collapses to the majority class without the
      // balanced class weights (measured: all-positive at every lr)
      val cls = feats.groupBy(col(labelCol))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      val nPos = cls.getOrElse(true, 0L)
      val nNeg = cls.getOrElse(false, 0L)
      require(nPos > 0 && nNeg > 0,
        s"need both classes in the seed corpus: pos=$nPos neg=$nNeg")
      val nDocs = nPos + nNeg
      // balanced class weights in milli (sklearn's class_weight=
      // 'balanced' recipe, public), truncating division throughout
      val cwPos = 1000L * nDocs / (2L * nPos)
      val cwNeg = 1000L * nDocs / (2L * nNeg)
      val w = init.map(_.toArray).getOrElse(new Array[Long](nBuckets))
      for (k <- 1 to steps) {
        val wLit = typedlit(w.toSeq)
        val g = feats
          .withColumn("__z",
            aggregate(col("f"), lit(0L), (acc, s) =>
              acc + element_at(wLit,
                (s.getField("b") + 1).cast("int")) * s.getField("x")))
          .withColumn("__p",
            greatest(lit(0L), least(lit(1000000L),
              lit(500000L) + expr("__z div 4"))))
          .withColumn("__err",
            (when(col(labelCol), lit(1000000L)).otherwise(lit(0L))
              - col("__p"))
              * when(col(labelCol), lit(cwPos)).otherwise(lit(cwNeg)))
          .select(col("__err"), explode(col("f")).as("s"))
          .groupBy(col("s.b").as("b"))
          .agg(sum(col("__err") * col("s.x")).as("g"))
          .collect()
        // harmonic decay lr/k: the big first step finds the direction,
        // shrinking steps stop the balanced gradient from oscillating
        // around the boundary (measured on the planted corpora)
        val lrK = lrPpm / k
        g.foreach { r =>
          val b = r.getLong(0).toInt
          w(b) += lrK * r.getLong(1) / (1000000000L * nDocs)
        }
      }
      w
    } finally feats.unpersist()
  }

  /** Persist a trained quality model ([[trainQualityClassifier]]
    * output) as a queryable lattice — the model member of the
    * persisted-index family (`writeBm25Index`, `writeDHashIndex`):
    * `table` holds the dense (bucket, w_micro) rows, `<table>_meta`
    * the salt the feature hash needs (bucket count is the lattice's
    * own row count — one definition site, the artifacts cannot
    * disagree). Train once, score any corpus any time later.
    */
  def writeQualityModel(spark: org.apache.spark.sql.SparkSession,
                        table: String, weightsMicro: Seq[Long],
                        salt: String = "graft"): Unit = {
    require(weightsMicro.nonEmpty, "empty weight lattice")
    import spark.implicits._
    weightsMicro.zipWithIndex
      .map { case (wm, b) => (b.toLong, wm) }
      .toDF("bucket", "w_micro")
      .write.format("parquet").mode("overwrite").saveAsTable(table)
    Seq(salt).toDF("salt")
      .write.format("parquet").mode("overwrite")
      .saveAsTable(s"${table}_meta")
  }

  /** Load a persisted quality model back into the dense lattice +
    * salt [[writeQualityModel]] recorded. Read once per version of the
    * two tables ([[graft.io.VersionMemo]]): a warm call runs no job,
    * and a rewrite (`refreshQualityModel`) is loaded on the next call.
    * The lattice is a fresh copy on every call. */
  def loadQualityModel(spark: org.apache.spark.sql.SparkSession,
                       table: String): (Array[Long], String) = {
    val (w, salt) = graft.io.VersionMemo.table(spark, "quality-model",
        Seq(table, s"${table}_meta")) {
      val rows = spark.table(table)
        .select(col("bucket"), col("w_micro")).collect()
      require(rows.nonEmpty, s"empty model table $table")
      val w = new Array[Long](rows.length)
      rows.foreach(r => w(r.getLong(0).toInt) = r.getLong(1))
      val salt = spark.table(s"${table}_meta")
        .select(col("salt")).head.getString(0)
      (w, salt)
    }
    (w.clone(), salt)
  }

  /** Score a corpus against a PERSISTED quality model — the serving
    * half of the train→persist→serve loop: loads the bounded lattice
    * (nBuckets rows) to the driver and runs the stock
    * [[qualityClassifierScoreWith]] projection, so a served score is
    * bit-identical to scoring with the in-memory lattice (spec-pinned).
    */
  def qualityClassifierScoreIndexed(spark: org.apache.spark.sql.SparkSession,
                                    table: String, df: DataFrame,
                                    textCol: String,
                                    threshold: Double = 0.0): DataFrame = {
    val (w, salt) = loadQualityModel(spark, table)
    qualityClassifierScoreWith(df, textCol, w.toSeq, threshold, salt)
  }

  /** Refresh a PERSISTED quality model with a new labeled batch — the
    * continuous-retraining step between serving windows: load the
    * lattice, WARM-START [[trainQualityClassifier]] on the batch
    * (`steps` balanced gradient rounds from the current weights, decay
    * restarting per refresh), write the updated lattice back. The
    * whole cycle is deterministic given the batch sequence, so a
    * replayed stream reproduces the exact model (spec-pinned). Returns
    * the updated lattice.
    */
  def refreshQualityModel(spark: org.apache.spark.sql.SparkSession,
                          table: String, labeled: DataFrame,
                          idCol: String, textCol: String,
                          labelCol: String, steps: Int = 2,
                          lrPpm: Long = 200000L): Array[Long] = {
    val (w0, salt) = loadQualityModel(spark, table)
    val w = trainQualityClassifier(labeled, idCol, textCol, labelCol,
      nBuckets = w0.length, steps = steps, lrPpm = lrPpm, salt = salt,
      init = Some(w0.toSeq))
    writeQualityModel(spark, table, w.toSeq, salt)
    w
  }
}

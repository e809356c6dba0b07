package graft

/** Plan-shape audit over the query catalog: prints Exchange / parquet-scan
  * / WholeStageCodegen counts per query (the three numbers the 100 TB lens
  * cares about first), plus the full formatted plan when a single query is
  * named. Dev tooling, not part of the shipped library surface.
  *
  * Usage: runMain graft.PlanAudit [sfDir] [q85,q86,...]
  * With one query selected, dumps `explain("formatted")` too.
  */
/** The "text never rides a content-keyed exchange" invariant, as a
  * mechanical plan check (swept repo-wide by PlanShapeSpec, printable
  * per-query via [[PlanAudit]]).
  *
  * An Exchange is CONTENT-KEYED when its hash-partitioning either (a)
  * references any string attribute inside its expressions — that
  * string is in the exchange input by construction, so it crosses the
  * wire — or (b) partitions by a digest-named attribute (md5/sha/
  * hash/sig…), i.e. precomputed content identity. Such an exchange
  * must carry ONLY keys, ids, digests, and narrow tokens: a DOCUMENT-
  * sized string (text/html/line/body/… by the repo's naming
  * discipline) in its output means full payloads pile onto whatever
  * key is hot — and duplicate content is hot by definition. The
  * sanctioned shape is hash → thin agg winners → join back on the
  * uniform id key ([[graft.ext.Dedup.dedupExact]]).
  *
  * Name-based width classification is a static proxy (column widths
  * aren't in the schema); both patterns are part of the invariant and
  * new wide-text columns must join `WideTextPattern`.
  *
  * WINDOWS are held to a stricter bar than exchanges: a `WindowExec`
  * partitioned by a content-derived key (an expression over wide text,
  * or a digest-named attribute) is flagged REGARDLESS of how thin its
  * rows are — the window buffers one content group per task, so a hot
  * duplicate (20% of a crawl on one boilerplate page) serializes
  * through a single task even when only (id, digest) rides the
  * exchange. The sanctioned shape is the same min/max AGGREGATE on the
  * digest + join back on the uniform id key
  * ([[graft.ext.Dedup.dedupExact]], the q149 tail).
  */
object ContentKeyAudit {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
  import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
  import org.apache.spark.sql.execution.window.WindowExec
  import org.apache.spark.sql.types.StringType

  /** Document-sized string columns, by the repo's naming discipline. */
  val WideTextPattern =
    ("(?i)(^|_)(text|html|line|lines|content|main|fixed|body|page|doc|" +
      "snippet|passage|chunk|paragraph|sentence|title|summary|comment|" +
      "ccnet_key)($|_|s$)").r.unanchored

  /** Precomputed content-identity columns (digests of content). */
  val DigestPattern = // sha must not swallow "shard": require digit/boundary
    "(?i)(md5|sha(?=[0-9]|_|$)|hash|sig|digest|fingerprint|__h)".r.unanchored

  private def isWide(a: Attribute): Boolean =
    a.dataType == StringType && WideTextPattern.matches(a.name) &&
      !DigestPattern.matches(a.name) // fixed_md5, content_hash: digests of
                                     // wide columns are themselves narrow

  /** True when a partitioning expression derives from content: it is
    * computed from a wide text column (the wide input necessarily sits
    * in the operator's input), or it IS a precomputed content digest.
    * Narrow string keys (tokens, shard labels) stay exempt. */
  private def contentDerived(
      ex: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    ex.references.exists(isWide) ||
      (ex match {
        case a: AttributeReference =>
          a.dataType == StringType && DigestPattern.matches(a.name)
        case _ => false
      })

  /** One line per violating exchange or window in `plan` (empty =
    * invariant holds). */
  def violations(plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, ExprId, Expression}
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    // window partition expressions are pre-projected into `_w0`-style
    // aliases, so the content test must resolve attributes back through
    // the plan's Project/Aggregate alias definitions (transitively) —
    // `partitionBy(md5(text))` physically partitions by `_w0` — and
    // through Generate outputs: a window over posexplode'd LSH band
    // keys partitions by attributes whose lineage is the signature
    // expression (`sig` is content identity). Lineage stops at scans
    // (stored columns carry the name-proxy only).
    val defs: Map[ExprId, Expression] = root.collect {
      case p: org.apache.spark.sql.execution.ProjectExec =>
        p.projectList.collect { case a: Alias => a.exprId -> a.child }
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        h.resultExpressions.collect { case a: Alias => a.exprId -> a.child }
      case g: org.apache.spark.sql.execution.GenerateExec =>
        g.generatorOutput.map(a =>
          a.exprId -> (g.generator: Expression))
    }.flatten.toMap
    def derived(ex: Expression, seen: Set[ExprId]): Boolean =
      contentDerived(ex) || ex.references.exists { a =>
        !seen(a.exprId) &&
          defs.get(a.exprId).exists(e => derived(e, seen + a.exprId))
      }
    root.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case hp: HashPartitioning =>
          val wide = e.output.filter(isWide)
          if (hp.expressions.exists(contentDerived) && wide.nonEmpty)
            Seq(s"content-keyed exchange on [${hp.expressions.mkString(", ")}] " +
              s"carries wide text [${wide.map(_.name).mkString(", ")}]")
          else Seq.empty
        case _ => Seq.empty
      }
      // windows: content-keyed partitioning is flagged even for thin
      // rows — the whole hot group still buffers on one window task
      case w: WindowExec
        if w.partitionSpec.exists(derived(_, Set.empty)) =>
        Seq(s"content-keyed window partitioned by " +
          s"[${w.partitionSpec.mkString(", ")}]")
    }.flatten
  }
}

object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.lift(1).map(_.split(",").map(_.trim).toSet)
    val spark = Sessions.local()
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) =>
        names.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val executed = df.queryExecution.executedPlan
        val plan = executed.toString
        val nEx = "Exchange".r.findAllIn(plan).length
        val nScan = "Scan parquet".r.findAllIn(plan).length
        val nWsc = "WholeStageCodegen".r.findAllIn(plan).length
        // a Window with no PARTITION BY serializes the whole relation
        // through one task — the first thing to flag at the 100 TB lens
        val tree = executed match {
          case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.initialPlan
          case p => p
        }
        val globalWin = tree.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
        }.size
        val flag = if (globalWin > 0) s"  GLOBAL-WINDOW=$globalWin" else ""
        val ck = ContentKeyAudit.violations(executed)
        val ckFlag = if (ck.nonEmpty) s"  CONTENT-KEYED-TEXT=${ck.size}" else ""
        println(f"$name%-32s exchanges=$nEx%-3d scans=$nScan%-3d codegen=$nWsc%d$flag$ckFlag")
        ck.foreach(v => println(s"    $v"))
        if (selected.size == 1) df.explain("formatted")
      } catch { case e: Throwable =>
        println(s"$name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

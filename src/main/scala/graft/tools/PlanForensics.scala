package graft.tools

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.SparkPlan

/** Broadcast build-side provenance over a FINAL (post-AQE) physical
  * plan. Round 6's audit counted BroadcastExchange nodes but could not
  * say what was being broadcast — which let a broadcast of the ENTIRE
  * postings table read as "the ≤3-row phrase frame". This walks every
  * broadcast's build subtree (crossing query-stage / reused-exchange
  * boundaries) and flags the ones that ship a fact-table scan with no
  * cardinality bound between the scan and the broadcast — the exact
  * shape that inverts (OOM or corpus-sized shuffle) at 100 TB.
  */
object PlanForensics {

  /** Tables that are corpus-sized at the target scale — anything
    * broadcast from these must pass through an aggregate / limit /
    * top-k first. Dim tables (region/nation/customer/supplier/part)
    * are legitimately broadcast whole.
    */
  val CorpusTables: Seq[String] =
    Seq("lineitem", "orders", "events", "documents", "embeddings")

  /** Nodes that bound cardinality independently of corpus size:
    * aggregates collapse to the group domain, limits / top-k to k.
    */
  private val Bounding: Set[String] = Set(
    "GlobalLimitExec", "CollectLimitExec", "TakeOrderedAndProjectExec",
    "HashAggregateExec", "SortAggregateExec", "ObjectHashAggregateExec")

  /** Full traversal, crossing AQE stage facades. */
  def walk(p: SparkPlan): Seq[SparkPlan] =
    p +: GraftBridge.planChildren(p).flatMap(walk)

  private def splitConjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** A corpus-derived broadcast build side, classified by what (if
    * anything) bounds it. `filtered = true` means a Filter sits in the
    * build subtree — a literal key filter (e.g. `vec_id < 10` query
    * sample) is genuinely k-bounded, a selectivity filter is NOT;
    * a human must verify which. `filtered = false` (the hard flag) is
    * a raw fact-table broadcast: guaranteed to invert at scale.
    */
  final case class CorpusBroadcast(tables: String, filtered: Boolean)

  /** One entry per corpus-derived broadcast with no aggregate / limit
    * bound. Empty = every broadcast in the plan is dim-sized or
    * cardinality-bounded.
    */
  def corpusBroadcasts(root: SparkPlan): Seq[CorpusBroadcast] =
    corpusBroadcastNodes(root).map(_._2)

  /** Node-bearing variant of [[corpusBroadcasts]] so a post-execution
    * probe can read the flagged exchanges' own metrics. Deduped by
    * node IDENTITY: `walk` crosses ReusedExchangeExec into the same
    * exchange instance, which would double-count its measurement
    * (structural `.distinct` would instead merge two genuinely
    * separate broadcasts with equal subtrees).
    */
  private[tools] def corpusBroadcastNodes(root: SparkPlan)
      : Seq[(SparkPlan, CorpusBroadcast)] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    walk(root)
      .filter(_.getClass.getSimpleName == "BroadcastExchangeExec")
      .filter(seen.add)
      .flatMap { b =>
        val sub = walk(b)
        val bounded = sub.exists(n => Bounding(n.getClass.getSimpleName))
        if (bounded) None
        else {
          val tabs = sub
            .filter(_.getClass.getSimpleName.contains("FileSourceScan"))
            .flatMap(s => CorpusTables.filter(t =>
              s.toString.contains(s"$t.parquet")))
          if (tabs.nonEmpty) {
            // a Filter only counts as (possibly) bounding if it does
            // something beyond null guards: every equi-join build side
            // carries `isnotnull(key)` filters, which reject no
            // meaningful fraction of a fact table — treating them as
            // "filtered" would mean the RAW flag never fires on the
            // exact shape it exists for (found by the negative-path
            // spec; the round-6 phrase-search plan had null guards too)
            val filtered = sub.exists {
              case f: org.apache.spark.sql.execution.FilterExec =>
                splitConjuncts(f.condition).exists(p =>
                  !p.isInstanceOf[org.apache.spark.sql.catalyst.expressions.IsNotNull])
              case _ => false
            }
            Some(b -> CorpusBroadcast(
              tabs.distinct.sorted.mkString("+"), filtered))
          } else None
        }
      }
  }

  /** The hard flags only: raw (not even filter-bounded) fact-table
    * broadcasts — the round-6 q_phrase_search shape.
    */
  def rawCorpusBroadcasts(root: SparkPlan): Seq[String] =
    corpusBroadcasts(root).filterNot(_.filtered).map(_.tables)

  /** Post-EXECUTION metric probe for the corpus-broadcast soft tiers
    * (round 12 — the BroadcastBounds analogue of
    * [[spWindowInputRows]]): the measured build-side row count and
    * serialized byte size of every flagged broadcast in the final
    * plan, read from the exchange's own `numOutputRows`/`dataSize`
    * metrics after the frame has run. These are the numbers that turn
    * the audit's "~ verify selectivity" / "~ re-plans at scale" notes
    * into measurements: a probe-bounded filter must hold its rows
    * flat across a corpus scale-up; a size-picked broadcast must
    * either disappear (the re-plan) or stay under the planner's
    * threshold.
    */
  final case class BroadcastMeasure(tables: String, filtered: Boolean,
                                    rows: Long, bytes: Long)

  def corpusBroadcastRows(df: org.apache.spark.sql.DataFrame)
      : Seq[BroadcastMeasure] = {
    df.queryExecution.executedPlan.execute().count(): Unit
    val fin = GraftBridge.finalPlan(df)
    corpusBroadcastNodes(fin).map { case (b, cb) =>
      BroadcastMeasure(cb.tables, cb.filtered,
        b.metrics.get("numOutputRows").map(_.value).getOrElse(-1L),
        b.metrics.get("dataSize").map(_.value).getOrElse(-1L))
    }
  }

  /** Limit-type nodes: a CONSTANT cardinality bound, independent of
    * both corpus size and group domains. The only bound class that
    * makes a single-partition sort/window safe unconditionally.
    * LocalLimitExec is deliberately ABSENT: a local limit caps rows
    * PER PARTITION (total = k × numPartitions, corpus-scaled via the
    * partition count), so a LocalLimit-only path — e.g. a limit pushed
    * below an exchange whose GlobalLimit got optimized away — must NOT
    * silence the detector (round-9 advice: treating it as a full bound
    * is a false negative in a safety audit). In every legitimate
    * in-plan limit proof the GlobalLimit/CollectLimit sits above its
    * LocalLimit, so honoring only the global forms loses nothing.
    */
  private val LimitBounding: Set[String] = Set(
    "GlobalLimitExec", "CollectLimitExec",
    "TakeOrderedAndProjectExec")

  private val AggNodes: Set[String] = Set(
    "HashAggregateExec", "SortAggregateExec", "ObjectHashAggregateExec")

  /** A single-partition (empty partitionSpec) window over a
    * corpus-derived frame, classified by what sits between the window
    * and the corpus leaf:
    *
    *  - `aggBounded = false` (the HARD flag): nothing but row-preserving
    *    ops — the window's one task sorts the corpus itself
    *    (round-8 q_price_deciles: `Exchange SinglePartition` over the
    *    orders fact table).
    *  - `aggBounded = true` (the SOFT flag): an aggregate collapses the
    *    frame first, but an aggregate bounds only to its GROUP DOMAIN —
    *    which for shapes like wedge-pair counting (round-8
    *    q_link_prediction) grows superlinearly with the corpus. A human
    *    (or a docstring) must say why the domain is small; the
    *    provably-safe alternative is an explicit in-plan `limit` above
    *    the aggregate, which this detector honors as a full bound.
    *
    * `tables` names the corpus scans reached; a `ckpt` entry means the
    * path ends at a localCheckpoint RDD leaf — provenance unknown to
    * the plan, so it is treated as corpus-derived (round 8's
    * q_link_prediction hid its lineitem scan behind exactly such a
    * checkpoint; a detector that only matched FileSourceScan would
    * have missed the round's headline finding).
    *
    * Unlike broadcasts there is no forced-vs-size-pick re-plan here:
    * an empty partitionSpec is structural — the planner NEVER
    * re-plans it at scale, which is what makes the shape a hard
    * ceiling rather than a self-correcting size pick.
    */
  final case class CorpusWindow(tables: String, bound: String) {
    def aggBounded: Boolean = bound != "none"
  }

  private def emptyPartitionSpec(p: SparkPlan): Boolean = p match {
    case w: org.apache.spark.sql.execution.window.WindowExec =>
      w.partitionSpec.isEmpty
    case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
      w.partitionSpec.isEmpty
    case _ => false
  }

  /** One entry per single-partition window whose input subtree reaches
    * a corpus-sized leaf without crossing a limit. Empty = every
    * global-order window in the plan runs on a constant-bounded frame.
    */
  def singlePartitionWindows(root: SparkPlan): Seq[CorpusWindow] = {
    // (leaf name, was an aggregate crossed on the way down?)
    def reach(p: SparkPlan, agg: Boolean): Seq[(String, Boolean)] = {
      val cls = p.getClass.getSimpleName
      if (LimitBounding(cls)) Seq.empty
      else if (cls.contains("FileSourceScan"))
        CorpusTables.filter(t => p.toString.contains(s"$t.parquet"))
          .map(t => (t, agg))
      else if (cls == "RDDScanExec") Seq(("ckpt", agg))
      else GraftBridge.planChildren(p)
        .flatMap(reach(_, agg || AggNodes(cls)))
    }
    walk(root).filter(emptyPartitionSpec).flatMap { w =>
      // start from the window's CHILDREN — reach(w, …) would classify
      // the window node's own class instead of its input path
      val fromChildren = GraftBridge.planChildren(w)
        .flatMap(reach(_, agg = false))
      if (fromChildren.isEmpty) None
      else {
        val tabs = fromChildren.map(_._1).distinct.sorted.mkString("+")
        // three tiers: a provable corpus FileScan reached with no agg
        // is the hard "none"; checkpoint-only leaves are "ckpt"
        // (provenance opaque to the plan — the checkpointed frame's
        // own bound must be argued); otherwise "agg"
        val bound =
          if (fromChildren.exists { case (t, agg) => t != "ckpt" && !agg })
            "none"
          else if (fromChildren.exists { case (t, agg) => t == "ckpt" && !agg })
            "ckpt"
          else "agg"
        Some(CorpusWindow(tabs, bound))
      }
    }
  }

  /** Post-EXECUTION metric probe (round 10): the measured INPUT row
    * count of every single-partition window in the final plan —
    * the number that turns the `spwagg` tier's docstring claims
    * ("the group domain is corpus-independent") into measurements.
    * A window is 1:1 in cardinality, so its input count is read from
    * the nearest descendant node that carries a `numOutputRows`
    * metric after the plan has run (the bounding aggregate itself in
    * the agg tier). Executes the frame through its OWN QueryExecution
    * (an RDD count — `df.write` would build a separate execution and
    * strand the metrics), then walks the final adaptive plan.
    *
    * Returns one (input-leaf label, measured rows) pair per
    * single-partition window, in plan-walk order; −1 when no counted
    * descendant exists (never observed — aggregates and scans all
    * carry the metric).
    */
  def spWindowInputRows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] = {
    df.queryExecution.executedPlan.execute().count(): Unit
    val fin = GraftBridge.finalPlan(df)
    def firstCounted(p: SparkPlan): Option[Long] =
      p.metrics.get("numOutputRows").map(_.value).orElse(
        GraftBridge.planChildren(p).view.flatMap(firstCounted).headOption)
    walk(fin).filter(emptyPartitionSpec).map { w =>
      def leaves(p: SparkPlan): Seq[String] = {
        val cls = p.getClass.getSimpleName
        if (cls.contains("FileSourceScan"))
          CorpusTables.filter(t => p.toString.contains(s"$t.parquet")) match {
            case Nil => Seq("dim"); case ts => ts
          }
        else if (cls == "RDDScanExec") Seq("ckpt")
        else GraftBridge.planChildren(p).flatMap(leaves)
      }
      val label = leaves(w).distinct.sorted.mkString("+") match {
        case "" => "const"; case s => s
      }
      val rows = GraftBridge.planChildren(w).view
        .flatMap(firstCounted).headOption.getOrElse(-1L)
      (label, rows)
    }
  }

  /** WindowGroupLimit probe: (total window nodes, group-limit nodes).
    * Spark's InferWindowGroupLimit is supposed to rewrite
    * `rank <= k`-filtered windows into a pre-window top-k pass — the
    * round-8 judge probe showed it did NOT fire on q_link_prediction's
    * rank filter, which is why rank-then-filter must be written as
    * limit-then-rank in this repo. This counter keeps the rewrite's
    * presence/absence visible per query so future rank filters that
    * silently miss the rewrite are caught even when their frames are
    * bounded today.
    */
  def windowGroupLimits(root: SparkPlan): (Int, Int) = {
    val nodes = walk(root).map(_.getClass.getSimpleName)
    (nodes.count(n => n == "WindowExec" || n == "WindowGroupLimitExec"),
      nodes.count(_ == "WindowGroupLimitExec"))
  }
}

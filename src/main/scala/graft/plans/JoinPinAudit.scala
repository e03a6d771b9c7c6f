package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The r12 join-pin policy as executable analysis (r13: the policy was
  * prose in SCALE.md plus six hand-written `TextPlanSpec` pins; this
  * makes it structural so a query added NEXT round cannot silently
  * reintroduce the broadcast-flip class r12 diagnosed).
  *
  * Background (SCALE.md §combined-stage, r12): AQE intermittently
  * broadcast a CORPUS-scale join side — highly-duplicated text
  * compresses so well that its map-output size statistic wobbles under
  * the adaptive broadcast threshold (`HighlyCompressedMapStatus`
  * quantization). The flipped plan
  * builds a multi-million-row HashedRelation single-threaded on the
  * driver with the probe side coalesced to ONE task: 4–20× per-query
  * cliffs, roughly every other fresh JVM at the 100× text stage.
  *
  * Policy: a join side whose lineage reaches the text/embedding corpus
  * (`documents`/`embeddings` tables or layouts derived from them) and
  * that is not row-bounded BY CONSTRUCTION must not be left to the
  * planner's size estimate — it carries an explicit strategy hint, or
  * the query carries a reasoned allowlist entry (the spec's, mirroring
  * SCALE.md's "deliberately unpinned" analysis).
  *
  * What counts as bounded by construction:
  *  - Catalyst's own `maxRows` (limits, group-less aggregates, literal
  *    relations, and compositions thereof) below [[BoundedRows]] — this
  *    is how the 1-row stats frames and collect_list codebooks pass
  *    without any allowlist;
  *  - a conjunct `attr = literal` point filter on the side, but ONLY to
  *    excuse an EXPLICIT broadcast hint (the author asserted
  *    boundedness; the filter pins it to a key's multiplicity — the
  *    query-vector `vec_id = 0` frames). A point filter does NOT excuse
  *    an unpinned join: the planner still sees an estimate, not a bound.
  *    Scope note: the filter may sit anywhere in the side's subtree, so
  *    this is EVIDENCE of a deliberate bounded-side broadcast, not a
  *    proof of boundedness — the audit's hard guarantee is for the
  *    unpinned flip class; explicit broadcasts are author decisions the
  *    check cross-examines but does not fully verify.
  */
object JoinPinAudit {

  /** Structural row bound under which a side is broadcast-safe by
    * construction. Every deliberate bounded side in the catalogue is a
    * 1-row stats frame, a ≤k codebook, or a ≤laneK lane — orders of
    * magnitude below this; a corpus side can never present a structural
    * maxRows at all (file relations have none).
    */
  val BoundedRows = 10000L

  /** Path markers identifying the corpus-scale-by-design sources. The
    * staged IVF list layout is embeddings-derived, hence tainted.
    */
  private val corpusMarkers =
    Seq("documents", "embeddings", "graft_ivf_lists")

  sealed trait Verdict { def label: String }
  /** Unbounded corpus-descended side with NO strategy hint on the join:
    * the r12 flip class — AQE may broadcast it whenever the compressed
    * size estimate wobbles under the threshold.
    */
  case object UnpinnedCorpusJoin extends Verdict { val label = "unpinned" }
  /** Unbounded corpus-descended side carrying an explicit BROADCAST
    * hint without a point filter: deliberate, but the boundedness lives
    * in the author's head (e.g. BM25's |terms|-bounded df) — requires a
    * reasoned allowlist entry.
    */
  case object BroadcastCorpusSide extends Verdict { val label = "broadcast-hinted" }

  case class Finding(query: String, verdict: Verdict, joinType: String,
      sideDescr: String) {
    override def toString = s"$query: ${verdict.label} $joinType [$sideDescr]"
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  private[plans] def tainted(p: LogicalPlan): Boolean =
    p.collectLeaves().exists {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.exists { rp =>
          val s = rp.toString
          corpusMarkers.exists(s.contains)
        }
        case _ => false
      }
      case _ => false
    }

  private[plans] def bounded(p: LogicalPlan): Boolean =
    p.maxRows.exists(_ <= BoundedRows)

  private[plans] def pointFiltered(p: LogicalPlan): Boolean =
    p.exists {
      case f: Filter => splitConjuncts(f.condition).exists {
        case EqualTo(_: AttributeReference, _: Literal) => true
        case EqualTo(_: Literal, _: AttributeReference) => true
        case _ => false
      }
      case _ => false
    }

  /** Audit one query's optimized logical plan. Returns the findings
    * that are NOT structurally safe — callers compare them against a
    * reasoned allowlist.
    */
  def audit(name: String, df: DataFrame): Seq[Finding] = {
    val plan = df.queryExecution.optimizedPlan
    plan.collect { case j: Join =>
      // a FULL OUTER equi-join has no broadcast implementation in Spark
      // (BroadcastHashJoin cannot null-extend the build side; with equi
      // keys the planner and AQE only ever choose SMJ/SHJ), so the flip
      // class cannot occur — exempt. Keyless full outers would lower to
      // BroadcastNestedLoopJoin, but a keyless corpus×corpus join is the
      // cartesian PlanAuditSpec already forbids.
      if (j.joinType == FullOuter) Nil
      else auditJoin(name, j)
    }.flatten
  }

  private def auditJoin(name: String, j: Join): Seq[Finding] = {
    {
      val sides = Seq(
        ("left", j.left, j.hint.leftHint.flatMap(_.strategy)),
        ("right", j.right, j.hint.rightHint.flatMap(_.strategy)))
      val exposed = sides.filter { case (_, side, _) =>
        tainted(side) && !bounded(side)
      }
      if (exposed.isEmpty) Nil
      else {
        val anyStrategyPin = sides.exists(_._3.isDefined)
        val broadcastExposed = exposed.filter(_._3.contains(BROADCAST))
        if (broadcastExposed.nonEmpty)
          broadcastExposed.collect {
            // a point filter bounds an explicit broadcast to the key's
            // multiplicity — the query-vector frames; structurally safe
            case (lbl, side, _) if !pointFiltered(side) =>
              Finding(name, BroadcastCorpusSide, j.joinType.toString, lbl)
          }
        else if (anyStrategyPin) Nil // strategy pinned; AQE cannot flip it
        else Seq(Finding(name, UnpinnedCorpusJoin, j.joinType.toString,
          exposed.map(_._1).mkString("+")))
      }
    }
  }

  /** Every corpus-descended, not structurally-bounded side carrying an
    * explicit BROADCAST hint — INCLUDING the ones [[audit]] excuses via
    * the point-filter evidence rule. This is the enumeration the runtime
    * cross-check executes (r13 verdict directive 5): the point filter is
    * EVIDENCE of a deliberate bounded-side broadcast, not a proof, and
    * the allowlisted `[domain]`/`[batch]`/`[capped]` broadcasts are
    * author-reasoned, not engine-checked — `BroadcastBoundSpec` runs
    * each such query and reads the broadcast exchange's actual row-count
    * metric, turning "author asserted" into "engine verified".
    */
  def broadcastSides(name: String, df: DataFrame): Seq[Finding] =
    df.queryExecution.optimizedPlan.collect { case j: Join =>
      Seq(("left", j.left, j.hint.leftHint.flatMap(_.strategy)),
        ("right", j.right, j.hint.rightHint.flatMap(_.strategy)))
        .collect { case (lbl, side, Some(BROADCAST))
            if tainted(side) && !bounded(side) =>
          Finding(name, BroadcastCorpusSide, j.joinType.toString, lbl)
        }
    }.flatten

  /** [[broadcastSides]] over the whole batch gate (same skip/cache rules
    * as [[auditAll]]). */
  def auditAllBroadcastSides(spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[String, Seq[Finding]] = {
    val skip = (n: String) =>
      n.startsWith("q_stream_") || n.startsWith("pipe_") || n.startsWith("wc_")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if !skip(name) =>
        spark.sharedState.cacheManager.clearCache()
        name -> broadcastSides(name, fn(spark, dir))
    }.filter(_._2.nonEmpty).toMap
  }

  /** Sweep every batch gate query. Streaming queries are excluded (their
    * returned frame is a materialized memory table; stream-side join
    * state is pinned in StreamingSpec) and so are the RDD-based pipe/wc
    * parity queries (no SQL plan). The cache is cleared before each
    * audit: an earlier query's `.cache()` (e.g. the union-find guard)
    * would otherwise substitute InMemoryRelation into later plans,
    * hiding their joins and file-source lineage — found while building
    * this audit: q_dedup_minhash's band join vanished from the sweep
    * whenever q_dedup_keep_best's eagerly-executed resolve had cached
    * the pairs frame first.
    */
  def auditAll(spark: org.apache.spark.sql.SparkSession, dir: String)
      : Map[String, Seq[Finding]] = {
    val skip = (n: String) =>
      n.startsWith("q_stream_") || n.startsWith("pipe_") || n.startsWith("wc_")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if !skip(name) =>
        spark.sharedState.cacheManager.clearCache()
        name -> audit(name, fn(spark, dir))
    }.filter(_._2.nonEmpty).toMap
  }
}

package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, LogicalPlan, ResolvedHint, BROADCAST}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** graft's one native-function table, plus its catalyst rules.
  *
  * Every graft SQL function is bound here and nowhere else. Sessions get
  * the table when they are built: `GraftSession` (and the test session)
  * call `withExtensions(new GraftExtensions()(_))`, and a cluster deploy
  * adds `--conf spark.sql.extensions=graft.GraftExtensions`. Sessions
  * derived from an extended one (`newSession`, streaming clones) inherit
  * it, and pure-SQL clients resolve the same names.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    import graft.functions._
    import graft.functions.Hashes._
    def inject(name: String, builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    def int(e: Expression): Int = e.eval(null).asInstanceOf[Int]

    inject("simhash64", es => SimHash64(es.head))
    inject("simhash_md5", es => SimHashMd5(es(0), int(es(1))))
    inject("simhash_from_hashes", es => SimHashFromHashes(es.head))
    inject("minhash_sig", es => MinHashSig(es.head, int(es(1))))
    inject("minhash_sig_from_hashes",
      es => MinHashFromHashes(es.head, int(es(1))))
    inject("ngram_hashes", es => NgramHashes(es(0), int(es(1))))
    inject("ngram_md5_hashes", es => NgramMd5Hashes(es(0), int(es(1))))
    inject("hash_array", es => HashArray(es.head))
    inject("intersect_count", es => IntersectCount(es(0), es(1)))
    inject("cosine_f32", es => CosineF32(es(0), es(1)))
    inject("rhp_bucket", es => RhpBucket(es(0), int(es(1))))
    inject("md5_rhp_bucket", es => Md5RhpBucket(es(0), int(es(1))))
    inject("phash64", es => Phash64(es.head))
    inject("kmv_distinct",
      es => KmvSketch(es(0), int(es(1))).toAggregateExpression())
    inject("mg_topk",
      es => MisraGries(es(0), int(es(1))).toAggregateExpression())
    inject("bloom_agg", es => BloomAgg(es(0), int(es(1)), int(es(2)))
      .toAggregateExpression())
    inject("bloom_any", es => BloomMightContainAny(es(0), es(1),
      int(es(2)), int(es(3))))
    inject("cms_agg", es => CountMinAgg(es(0), int(es(1)), int(es(2)))
      .toAggregateExpression())
    inject("cms_est", es => CountMinEstimate(es(0), es(1),
      int(es(2)), int(es(3))))
    inject("hll_agg", es => HllSketch(es(0)).toAggregateExpression())
    inject("hll_regs",
      es => HllSketch(es(0), emitRegisters = true).toAggregateExpression())
    // the two builders below check their arguments: a wrong arity or a
    // non-literal fails with a readable message, and an integral literal
    // is accepted, instead of a MatchError/ClassCastException from the
    // cast chain
    inject("qdigest_quantile", es => {
      require(es.length == 2,
        s"qdigest_quantile(value, q) takes 2 arguments, got ${es.length}")
      require(es(1).foldable,
        "qdigest_quantile: q must be a literal (foldable) expression, " +
          s"got ${es(1).sql}")
      val q = es(1).eval(null) match {
        case d: java.lang.Double => d.doubleValue()
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case i: java.lang.Integer => i.doubleValue()
        case l: java.lang.Long => l.doubleValue()
        case f: java.lang.Float => f.doubleValue()
        case other => throw new IllegalArgumentException(
          s"qdigest_quantile: q must be numeric, got $other " +
            s"(${es(1).dataType})")
      }
      QuantileSketch(es(0), q).toAggregateExpression()
    })
    inject("bottomk_sample", es => {
      require(es.length == 4,
        "bottomk_sample(hash, id, value, k) takes 4 arguments, got " +
          es.length)
      require(es(3).foldable, "bottomk_sample: k must be a literal")
      val k = es(3).eval(null) match {
        case i: java.lang.Integer => i.intValue()
        case l: java.lang.Long => l.intValue()
        case other => throw new IllegalArgumentException(
          s"bottomk_sample: k must be integral, got $other")
      }
      require(k > 0, s"bottomk_sample: k must be positive, got $k")
      SampleSketch(es(0), es(1), es(2), k).toAggregateExpression()
    })

    ext.injectPostHocResolutionRule(BroadcastDimTables)
    ext.injectOptimizerRule(ApproxDistinctRewrite)
  }
}

/** Catalog-aware optimization: dimension tables of the star schema
  * (recognized by their key-column signature) are bounded-cardinality
  * at ANY data scale, so scans of them get a broadcast hint
  * automatically — a user's plain `fact.join(nation, ...)` plans a
  * BroadcastHashJoin even where the join planner's own threshold logic
  * would shuffle (the common case right after ingest at 100 TB).
  * Injected post-resolution, so the standard EliminateResolvedHint pass
  * folds the hints into join planning.
  *
  * The column-name signature alone is NOT sufficient evidence: a
  * denormalized extract that happens to carry r_regionkey/r_name could
  * be terabytes, and force-broadcasting it would OOM every executor. So
  * the hint is additionally gated on the relation's size statistic
  * staying under `spark.graft.dimBroadcastMaxBytes` (default 256 MiB —
  * well above any real enumeration dim, well below a fact extract);
  * relations with no usable stats (sizeInBytes = defaultSizeInBytes
  * sentinel) are left to normal planning.
  */
case class BroadcastDimTables(session: SparkSession)
    extends Rule[LogicalPlan] {

  private val dimSignatures: Seq[Set[String]] = Seq(
    Set("r_regionkey", "r_name"),
    Set("n_nationkey", "n_name", "n_regionkey"))

  private def isDim(plan: LogicalPlan): Boolean = {
    val cols = plan.output.map(_.name).toSet
    dimSignatures.exists(_.subsetOf(cols))
  }

  private def maxBytes: Long =
    session.conf.get("spark.graft.dimBroadcastMaxBytes",
      (256L * 1024 * 1024).toString).toLong

  private def sizedUnder(rel: LogicalRelation, limit: Long): Boolean = {
    val size = rel.computeStats().sizeInBytes
    // defaultSizeInBytes (Long.MaxValue unless tuned) marks "unknown";
    // treat unknown as not-broadcastable rather than guessing
    size <= BigInt(limit)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val limit = maxBytes
    plan transformUp {
      case rel: LogicalRelation if isDim(rel) && sizedUnder(rel, limit) =>
        ResolvedHint(rel, HintInfo(strategy = Some(BROADCAST)))
    }
  }
}

/** Opt-in sketch rewrite: under `spark.graft.approxCountDistinct=true`,
  * single-column `COUNT(DISTINCT x)` aggregates become KMV-sketch
  * estimates. At 100 TB an exact distinct is an Expand + full shuffle
  * of every distinct value; the sketch crosses the shuffle as k longs
  * per group and merges associatively map-side — the standard accuracy
  * (±1/√k) for orders-of-magnitude less shuffle. OFF by default: the
  * rewrite trades exactness, so the USER flips the flag per session
  * (the same contract as `spark.sql.ansi` style knobs), and plans
  * below k distinct values stay exact (the estimator's exact regime).
  *
  * Multi-column distincts and DISTINCT with FILTER are left untouched.
  */
case class ApproxDistinctRewrite(session: SparkSession)
    extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray, XxHash64}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
  import org.apache.spark.sql.catalyst.plans.logical.Aggregate
  import org.apache.spark.sql.types.LongType

  private def enabled: Boolean =
    session.conf.get("spark.graft.approxCountDistinct", "false").toBoolean
  /** Sketch size: ±1/√256 ≈ 6% standard error, 2 KiB per group. */
  private val k = 256

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan transformUp {
      case agg: Aggregate => agg.transformExpressions {
        case ae @ AggregateExpression(Count(children), _, true, None, _)
            if children.size == 1 =>
          Cast(
            graft.functions.KmvSketch(
              CreateArray(Seq(XxHash64(children, 42L))), k)
              .toAggregateExpression(),
            LongType)
      }
    }
}

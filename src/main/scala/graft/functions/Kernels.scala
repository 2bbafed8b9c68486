package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Every graft kernel, once: its SQL name and how it is built from its
  * SQL arguments. The one table the Column API ([[call]]),
  * [[graft.GraftExtensions]] (permanent session functions), the substrait
  * consumer (built straight from the bound arguments) and the producer's
  * named-function allowlist all read — the reference consumer's
  * `name_to_op` plus aggregate-name list (consumer.rs:37-71, 383-415).
  */
object Kernels {
  type Builder = Seq[Expression] => Expression

  /** A constructor-parameter argument: any integral literal that fits an
    * Int (a foreign plan may carry it at any integer width). */
  private def intArg(fn: String, what: String, e: Expression): Int = e match {
    case Literal(n: java.lang.Number, ByteType | ShortType | IntegerType | LongType)
        if n.longValue.isValidInt => n.intValue
    case other => throw new IllegalArgumentException(
      s"$fn $what must be an integer literal, got $other")
  }

  val scalars: Map[String, Builder] = Map(
    "vec_dot" -> (es => VecDot(es(0), es(1))),
    "vec_cosine" -> (es => VecCosine(es(0), es(1))),
    "vec_l2sq" -> (es => VecL2Sq(es(0), es(1))),
    "lsh_buckets" -> (es => LshBuckets(es(0), intArg("lsh_buckets", "tables", es(1)),
      intArg("lsh_buckets", "planesPerTable", es(2)), intArg("lsh_buckets", "dim", es(3)))),
    "vec_top_cells" -> (es =>
      VecTopCells(es(0), es(1), es(2), intArg("vec_top_cells", "k", es(3)))),
    "cell_pairs" -> (es => CellPairs(es(0), es(1), es(2), es(3))),
    "minhash_sig" -> (es => MinHashSig(es(0), intArg("minhash_sig", "numHashes", es(1)))),
    "simhash64" -> (es => SimHash64(es(0))),
    "minhash_sig_text" -> (es => MinHashSigText(es(0), es(1), es(2))),
    "simhash64_text" -> (es => SimHash64Text(es(0))),
    "sorted_jaccard_ge" -> (es => SortedJaccardGe(es(0), es(1), es(2))),
    "sorted_containment_ge" -> (es => SortedContainmentGe(es(0), es(1), es(2))),
    "bucket_jaccard_pairs" -> (es => BucketJaccardPairs(es(0), es(1))),
    "shingle_hashes" -> (es => ShingleHashes(es(0), es(1))),
    "feature_buckets" -> (es => FeatureBuckets(es(0))),
    "bpe_count" -> (es => BpeCount(es(0))),
    "bpe_count_v2" -> (es => BpeCountV2(es(0), BpeFunctions.tableV2(SparkSession.active))),
    "charlm_fold" -> (es => CharLmFold(es(0), es(1))),
    "pq_encode" -> (es => PqEncode(es(0), es(1))),
    "pq_adc" -> (es => PqAdc(es(0), es(1))),
    "might_contain" -> (es => BloomMightContain(es(0), es(1))),
    "cms_estimate_long" -> (es => CmsFunctions.CmsEstimateLong(es(0), es(1))),
    "cms_inner_product" -> (es => CmsFunctions.CmsInnerProduct(es(0), es(1))),
    "freq_estimate_long" -> (es => FreqFunctions.FreqProbeLong(es(0), es(1), "estimate")),
    "freq_lower_bound_long" -> (es =>
      FreqFunctions.FreqProbeLong(es(0), es(1), "lower_bound")),
    "freq_upper_bound_long" -> (es =>
      FreqFunctions.FreqProbeLong(es(0), es(1), "upper_bound")),
    "freq_max_error" -> (es => FreqFunctions.FreqMaxError(es(0))),
    "theta_estimate" -> (es => ThetaFunctions.ThetaEstimate(es(0))),
    "theta_intersect_estimate" -> (es => ThetaFunctions.ThetaIntersectEstimate(es(0), es(1))),
    "theta_anotb_estimate" -> (es => ThetaFunctions.ThetaANotBEstimate(es(0), es(1))))

  /** Builders return the finished AggregateExpression. */
  val aggregates: Map[String, Builder] = Map(
    "charlm_fit_agg" -> (es =>
      CharLmFitAgg(es(0), intArg("charlm_fit_agg", "maxEntries", es(1))).toAggregateExpression()),
    "bloom_filter_agg" -> (es =>
      BloomFilterAggregate(es(0), es(1), es(2), 0, 0).toAggregateExpression()),
    "cms_merge_agg" -> (es => CmsFunctions.CmsMergeAgg(es(0)).toAggregateExpression()),
    "freq_sketch_agg_long" -> (es =>
      FreqFunctions.FreqSketchAggLong(es(0), es(1)).toAggregateExpression()),
    "freq_merge_agg" -> (es => FreqFunctions.FreqMergeAgg(es(0)).toAggregateExpression()),
    "theta_sketch_agg_long" -> (es => ThetaFunctions.ThetaSketchAggLong(es(0),
      es.lift(1).getOrElse(Literal(1 << 14))).toAggregateExpression()),
    "theta_union_agg" -> (es => ThetaFunctions.ThetaUnionAgg(es(0)).toAggregateExpression()),
    "topk_by_key" -> (es => TopKByKey(es(0), es(1), es(2)).toAggregateExpression()),
    "topk_by_key_loop" -> (es => TopKByKeyLoop(es(0), es(1), es(2)).toAggregateExpression()))

  val all: Map[String, Builder] = scalars ++ aggregates

  /** Sessions the table is registered in, keyed by the session object
    * itself in a [[java.util.WeakHashMap]] rather than by
    * `System.identityHashCode(spark)`: identity hashes can be reused by a
    * new SparkSession after an old one is GC'd (which would silently skip
    * registration → "undefined function" at analysis), and a string-keyed
    * set grows without bound across session churn. Weak keys give both
    * properties at once — two live sessions never collide, and an entry
    * vanishes with its session.
    *
    * `synchronized`: a thread losing the race must BLOCK until the winner
    * finishes createOrReplaceTempFunction — otherwise a pooled Verify
    * query can analyze against a not-yet-registered name.
    */
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** The Column API's route to kernel `name`: registers the whole table
    * once per live (active) session, then resolves by name. */
  def call(name: String, cols: Column*): Column = {
    val spark = SparkSession.active
    synchronized {
      if (registered.add(spark)) all.foreach { case (n, build) =>
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(n, build, "scala_udf")
      }
    }
    call_function(name, cols: _*)
  }
}

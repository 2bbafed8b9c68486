package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.substrait.{Consumer, Producer, Validator, Wire}
import graft.substrait.model.Plan

/** One unit of client work. `run` is the timed part; it returns the output
  * check, which the loop calls after the clock stops. `shadow` runs only in
  * traced passes, after the check, outside the op's span and wall time. */
trait Op {
  def name: String
  def run(tr: Tracer): () => Boolean
  def shadow(tr: Tracer): Unit = ()
}

object Op {
  /** Produce, encode and decode `df`, each in its span; returns the wire
    * bytes and the decoded plan. */
  def encodeDecode(tr: Tracer, df: DataFrame): (Array[Byte], Plan) = {
    val plan = tr.span("substrait.produce")(Producer.produce(df))
    val bytes = tr.span("substrait.encode")(Wire.encode(plan))
    tr.notePlanBytes(bytes.length)
    (bytes, tr.span("substrait.decode")(Wire.decode(bytes)))
  }
}

/** Translation only: produce → encode → decode → consume → executed plan of
  * a frame built in set-up. Nothing executes. The check: the decoded plan
  * re-encodes to the same bytes, and the consumed schema is the frame's. */
final class RoundTripOp(val name: String, spark: SparkSession, frame: DataFrame) extends Op {
  private var decoded: Plan = _

  def run(tr: Tracer): () => Boolean = {
    val (bytes, dec) = Op.encodeDecode(tr, frame)
    val df = tr.span("substrait.consume")(Consumer.consume(spark, dec))
    val qe = df.queryExecution
    tr.span("catalyst.optimize")(qe.optimizedPlan)
    tr.span("catalyst.plan")(qe.executedPlan)
    decoded = dec
    () => java.util.Arrays.equals(Wire.encode(dec), bytes) && df.schema == frame.schema
  }

  override def shadow(tr: Tracer): Unit =
    tr.span("substrait.validator")(Validator.validate(decoded))
}

/** A query of `SparkEntry.queries`, run as its user runs it: its function
  * (which carries the wire hop itself), then the whole result is
  * materialized into its fingerprint and compared with the expected one.
  * The shadow call round-trips the built frame through the substrait layer
  * once more, so traced runs can split out that layer's share. */
final class QueryOp(val name: String, spark: SparkSession, dir: String,
                    expected: Option[Fingerprint.Value]) extends Op {
  private val fn = SparkEntry.queries(name)
  private var built: DataFrame = _

  def run(tr: Tracer): () => Boolean = {
    val df = tr.span("entry.build")(fn(spark, dir))
    val fp = tr.span("bench.fingerprint")(Fingerprint.frame(df))
    val qe = fp.queryExecution
    tr.span("catalyst.optimize")(qe.optimizedPlan)
    tr.span("catalyst.plan")(qe.executedPlan)
    val v = tr.span("exec")(Fingerprint.read(fp))
    built = df
    () => expected.contains(v)
  }

  override def shadow(tr: Tracer): Unit =
    if (!Workloads.unproducible.contains(name)) {
      val (_, dec) = Op.encodeDecode(tr, built)
      tr.span("substrait.validator")(Validator.validate(dec))
      tr.span("substrait.consume")(Consumer.consume(spark, dec))
    }
}

/** `passSeconds` is the nominal time of one warm pass on the reference box
  * (4 cores); a run measures ceil(--seconds / passSeconds) whole passes, so
  * every run of a workload does the same work whatever the machine's load. */
final case class Workload(name: String, passSeconds: Double,
                          prepare: (SparkSession, String, Long) => Seq[Op])

object Workloads {

  /** Frames that are lineage-truncated snapshots of an iteration the query
    * already ran; producing them again throws `SubstraitException` by
    * design. They run in `pipeline_ops` but are excluded from
    * `plan_roundtrip` and from the traced shadow round trip. */
  val unproducible: Map[String, String] = Seq(
    "d08_neardup_clusters", "d13_incremental_clusters", "d14_keep_best_per_cluster",
    "d17_graph_rank", "t36_bpe_train",
  ).map(_ -> "lineage-truncated snapshot: re-producing it throws SubstraitException").toMap

  /** Queries `sql_parity` executes: one per relational family (scan,
    * aggregation, full and anti joins, correlated EXISTS, set ops, windows,
    * as-of joins); a warm pass takes about 2 s at sf0.01 on 4 cores.
    * `sql_parity` runs by hand only: it is not in BENCHMARK.json, whose
    * time budget holds long enough runs for two workloads, not three. */
  val sqlParity: Seq[String] = Seq(
    "q01_scan_project", "q04_pricing_summary", "q10_join_full", "q12_join_anti",
    "q34_exists_correlated", "q41_setops_all", "q42_window_ignore_nulls", "j01_asof_join",
  )

  /** Queries `pipeline_ops` executes: an eager connected-components
    * fixpoint that steps through the wire every round (d08), a table
    * rewrite (p08), streaming operators (e02, e03, e10), media decodes
    * (m01, m08, m11), text kernels (t03, t04, t07, t29b), vector search and
    * quantization (s01, s05) and exact dedup (d01); a warm pass takes about
    * 4.5 s at sf0.01 on 4 cores. Fifteen ops put both
    * the median and the 90th percentile in the middle of one query's
    * samples, not on the gap between two queries. */
  val pipelineOps: Seq[String] = Seq(
    "d08_neardup_clusters", "p08_compaction", "e03_stream_dedup", "m01_media_features",
    "t04_top_terms", "t03_fingerprint", "t07_chunking", "t29b_bpe_tokens_prod",
    "m08_image_resize", "m11_ulaw_audio", "s01_knn_brute", "s05_quantize",
    "e02_windowed_counts", "e10_outer_interval_join", "d01_dedup_exact",
  )

  /** Query frames whose translation `plan_roundtrip` measures: the
    * `sql_parity` frames, five more relational ones, five pipeline frames
    * whose build is lazy, and two multi-join frames with a costlier consume.
    * With the five deep plans that makes 25 ops a pass, so op_ms_p90 falls
    * inside the third-slowest group of samples; at 20 ops it fell on the gap
    * between the two deepest plans and the rest and swung by 40%. */
  val roundTripFrames: Seq[String] = sqlParity ++
    Seq("q02_filter_ops", "q22_string_ops", "q29_grouping_sets", "q31_window",
      "q63_tpch_q12_priority") ++
    Seq("d01_dedup_exact", "d02_minhash_pairs", "t04_top_terms", "m01_media_features",
      "e03_stream_dedup") ++
    Seq("q47_tpch_q2_mincost", "q60_tpch_q5_localsupp")

  def all(expected: Map[String, Fingerprint.Value]): Map[String, Workload] = Seq(
    Workload("plan_roundtrip", 3.3, (spark, dir, seed) => {
      Tables.register(spark, dir)
      val rnd = new Random(seed)
      roundTripFrames.map(n => new RoundTripOp(n, spark, SparkEntry.queries(n)(spark, dir))) ++
        DeepPlans.depths.map(d =>
          new RoundTripOp(s"deep_$d", spark, DeepPlans.build(spark, dir, rnd, d)))
    }),
    Workload("sql_parity", 2.2, (spark, dir, _) => {
      Tables.register(spark, dir)
      sqlParity.map(n => new QueryOp(n, spark, dir, expected.get(n)))
    }),
    Workload("pipeline_ops", 4.5, (spark, dir, _) => {
      Tables.register(spark, dir)
      pipelineOps.map(n => new QueryOp(n, spark, dir, expected.get(n)))
    }),
  ).map(w => w.name -> w).toMap
}

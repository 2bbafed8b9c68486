package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session

/** Reproducible scale-rehearsal fixture generator: replicates an sf
  * directory N× with consistent key spaces, so any query can be re-run at
  * 10× (or 100×) data to measure its scaling exponent (see BASELINE.md
  * "Scale rehearsal").
  *
  * Replication scheme (the one the round-4 rehearsal used):
  * - every key column gets `replica × offset` added, where the offset is
  *   shared per key FAMILY (custkey in both customer and orders, etc.) and
  *   is the next power of 10 above the family's max — joins inside a
  *   replica stay consistent, keys across replicas never collide;
  * - `documents.text` gets a ` repN` tag (N = replica) so cross-replica
  *   texts are NEAR-duplicates, keeping the planted near-dup RATE constant
  *   instead of exploding with exact clones (`n_chars` is recomputed);
  * - `embeddings.embedding` replicates VERBATIM — a deliberate stress:
  *   every vector gains N−1 exact clones, modeling a duplicate-heavy
  *   web-scale embedding corpus.
  *
  * Usage: runMain graft.tools.ScaleUp <inDir> <outDir> [reps=10] [mode]
  *
  * `mode` (default `replicate`) selects what the extra copies LOOK like:
  * - `replicate` — the scheme above: cross-replica texts are near-dups and
  *   vectors are exact clones, so TRUE pair density grows ~quadratically.
  *   Measures clone-heavy corpora (and stresses dedup recall), but its
  *   wall-clock ratios for pairwise-similarity queries track the planted
  *   979× pair growth, not corpus growth.
  * - `fresh` — every replica gets DISTINCT content with the SAME internal
  *   distributions, so true pair density grows LINEARLY (N× the replicas'
  *   internal pairs, zero cross-replica pairs) — the deduplicated-corpus
  *   rehearsal that certifies output-proportional scaling directly:
  *   - documents: every token is salted with a per-replica suffix
  *     (` x·r3`), so token counts/length distribution are preserved, the
  *     within-replica near-dup structure is EXACTLY the original corpus's,
  *     and cross-replica shingle overlap is zero by construction;
  *   - embeddings: each replica applies a deterministic orthogonal
  *     transform — circular component shift by 7r plus hash(i,r) sign
  *     flips. Within a replica all inner products/norms are preserved
  *     (same permutation+signs on both sides), so kNN/near-dup structure
  *     is the original corpus's; across replicas the composed transforms
  *     decorrelate vectors (expected cosine ~0).
  */
object ScaleUp {

  /** key column → family; one offset per family keeps FK joins consistent */
  private val keyFamily: Map[String, String] = Map(
    "r_regionkey" -> "regionkey", "n_regionkey" -> "regionkey",
    "n_nationkey" -> "nationkey", "c_nationkey" -> "nationkey",
    "s_nationkey" -> "nationkey",
    "c_custkey" -> "custkey", "o_custkey" -> "custkey",
    "s_suppkey" -> "suppkey", "l_suppkey" -> "suppkey",
    "p_partkey" -> "partkey", "l_partkey" -> "partkey",
    "o_orderkey" -> "orderkey", "l_orderkey" -> "orderkey",
    "doc_id" -> "doc_id", "vec_id" -> "vec_id",
    "event_id" -> "event_id", "user_id" -> "user_id")

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def pow10Above(n: Long): Long = {
    var p = 1L
    while (p <= n) p *= 10
    p
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleUp <inDir> <outDir> [reps=10] [replicate|fresh]")
    val (inDir, outDir) = (args(0), args(1))
    val reps = if (args.length > 2) args(2).toInt else 10
    val fresh = args.length > 3 && {
      require(Set("replicate", "fresh")(args(3)), s"unknown mode ${args(3)}")
      args(3) == "fresh"
    }
    // reuse a live session (specs call main() in-process); stop only our own
    val ownSession = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isEmpty
    val spark = Session.local(32,
      "spark.master" -> sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"),
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")

    val frames: Map[String, DataFrame] =
      tables.map(t => t -> spark.read.parquet(s"$inDir/$t.parquet")).toMap

    // one offset per family: next power of 10 above the family max anywhere
    // (an EMPTY table's max is null — contributes 0, not an NPE)
    val famMax = scala.collection.mutable.Map.empty[String, Long]
    for ((_, df) <- frames; c <- df.columns; fam <- keyFamily.get(c)) {
      val row = df.agg(max(col(c).cast("long"))).head()
      val m = if (row.isNullAt(0)) 0L else row.getLong(0)
      famMax(fam) = math.max(famMax.getOrElse(fam, 0L), m)
    }
    val famOffset = famMax.map { case (f, m) => f -> pow10Above(m) }.toMap

    // the shifted key is cast back to the column's ORIGINAL dtype with a
    // non-ANSI cast, which silently wraps on overflow — fail loudly instead:
    // max replica key must fit the narrowest int type carrying the family
    def dtypeMax(dt: org.apache.spark.sql.types.DataType): Long = dt match {
      case org.apache.spark.sql.types.IntegerType => Int.MaxValue
      case org.apache.spark.sql.types.ShortType => Short.MaxValue
      case org.apache.spark.sql.types.ByteType => Byte.MaxValue
      case _ => Long.MaxValue
    }
    for ((_, df) <- frames; c <- df.columns; fam <- keyFamily.get(c)) {
      val top = (reps - 1).toLong * famOffset(fam) + famMax(fam)
      require(top <= dtypeMax(df.schema(c).dataType),
        s"key column $c (${df.schema(c).dataType.simpleString}) would overflow " +
          s"at $reps replicas: max shifted key $top — widen the column or lower reps")
    }

    for ((name, df) <- frames) {
      def replica(r: Int): DataFrame = {
        val keyed = df.columns.foldLeft(df) { (d, c) =>
          keyFamily.get(c) match {
            case Some(fam) if r > 0 =>
              d.withColumn(c, (col(c) + lit(r * famOffset(fam))).cast(
                df.schema(c).dataType))
            case _ => d
          }
        }
        if (name == "documents") {
          val tagged =
            if (r == 0) keyed
            else if (fresh)
              // salt EVERY token: same token count / shifted-by-a-constant
              // length distribution, within-replica near-dup structure
              // preserved exactly, zero cross-replica shingle overlap
              keyed.withColumn("text", array_join(transform(
                split(col("text"), " "), w => concat(w, lit(s"·r$r"))), " "))
            else keyed.withColumn("text", concat(col("text"), lit(s" rep$r")))
          if (tagged.columns.contains("n_chars"))
            tagged.withColumn("n_chars", length(col("text")).cast("long"))
          else tagged
        } else if (name == "embeddings" && fresh && r > 0) {
          // deterministic orthogonal transform per replica: circular shift
          // by 7r, then hash(i, r)-keyed sign flips — inner products and
          // norms inside the replica are untouched (same permutation+signs
          // on both operands), cross-replica cosines decorrelate to ~0
          val e = col("embedding")
          val shift = pmod(lit(7 * r), size(e))
          val rotated = concat(
            slice(e, shift + lit(1), size(e) - shift), slice(e, lit(1), shift))
          keyed.withColumn("embedding", zip_with(
            rotated, sequence(lit(0), size(e) - 1),
            (v, i) => when(pmod(hash(i, lit(r)), lit(2)) === 0, v).otherwise(-v)
              .cast("float")))
        } else keyed
      }
      val out = (0 until reps).map(replica).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name ×$reps → $outDir/$name.parquet")
    }
    if (ownSession) spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off sf1.0 corpus builder for the full-registry SCALING sweep
  * (VERDICT r16 task 3): the 22 audit families pin 22 hand-picked shapes
  * at 10-100x, but nothing covers how the other ~246 registry queries
  * scale past sf0.1 — a hidden all-pairs or driver bottleneck in any of
  * them would be invisible until cluster scale. This replicates every
  * driver-generated sf0.1 table 10x (~6M lineitem rows = TPC-H sf1.0
  * shape) under WEAK scaling: per-key cardinalities stay constant, the
  * number of keys grows 10x — exactly how TPC-H itself scales.
  *
  *  - fact + dimension tables: replica i shifts each table's OWN keys
  *    and the FKs that point at a replicated table by the same stride,
  *    so join fan-ins and FK integrity are preserved (orders->customer,
  *    lineitem->part/supplier stay 1:1 with the sf0.1 distribution);
  *  - region/nation stay fixed (fixed-cardinality in TPC-H; their FKs
  *    are left unshifted so the 10x customers spread over the same 25
  *    nations — dimension fan-in grows, as it does at real scale);
  *  - events: user_id shifted per replica — 10x trajectories of
  *    unchanged length, the shape every lag/sessionize query scales in;
  *  - documents/embeddings: ScaleAudit.buildCorpus's calibrated
  *    perturbation schemes (hash-token word replacement, cosine-
  *    preserving sign flips) so dedup/ANN see organic pair structure
  *    instead of a 10x exact-duplicate explosion.
  *
  * Run: sbt "runMain graft.tools.ScaleSf"  (SCALE_SRC, SCALE_SF1_DIR to
  * override; default /tmp/graft_sf1full). Then:
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1full SPARK_GRAFT_CPUS=32 \
  *     SPARK_GRAFT_PASSES=1 sbt -batch "runMain graft.Bench"
  * and record the metric line as BENCH_sf1.json; flag any query whose
  * wall grows >10x vs its sf0.1 reading (per-row work should scale
  * ~linearly; superlinear = plan audit).
  */
object ScaleSf {
  val Copies = 10
  // key strides, comfortably above every sf0.1 max key
  private val OrderStride = 10000000L
  private val DimStride = 1000000L
  private val EventStride = 10000000L

  def build(spark: SparkSession, src: String, out: String): Unit = {
    val stamp = s"copies=$Copies scheme=weak-scale-v1"
    val done = new java.io.File(out, "_DONE_TABLES")
    // documents + embeddings first: buildCorpus owns the directory
    // lifecycle (wipes a stale corpus, including our stamp — so a
    // parameter change rebuilds everything)
    ScaleAudit.buildCorpus(spark, src, out, copies = Copies, period = 7)
    if (done.exists() &&
        new String(java.nio.file.Files.readAllBytes(done.toPath),
          "UTF-8") == stamp) {
      println(s"[scale-sf] tables at $out up to date ($stamp)")
      return
    }
    def replicate(table: String, shifts: Map[String, Long]): Unit = {
      val t = spark.read.parquet(s"$src/$table.parquet")
      val cols = t.columns.map { c =>
        shifts.get(c) match {
          case Some(stride) => (col(c) + col("__copy") * stride).as(c)
          case None => col(c)
        }
      }
      spark.range(Copies).withColumnRenamed("id", "__copy")
        .crossJoin(t).select(cols.toIndexedSeq: _*)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scale-sf] $table x$Copies written")
    }
    def copyAsIs(table: String): Unit = {
      spark.read.parquet(s"$src/$table.parquet").coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scale-sf] $table copied 1x (fixed dimension)")
    }
    copyAsIs("region")
    copyAsIs("nation")
    replicate("customer", Map("c_custkey" -> DimStride))
    replicate("supplier", Map("s_suppkey" -> DimStride))
    replicate("part", Map("p_partkey" -> DimStride))
    replicate("orders", Map("o_orderkey" -> OrderStride,
                            "o_custkey" -> DimStride))
    replicate("lineitem", Map("l_orderkey" -> OrderStride,
                              "l_partkey" -> DimStride,
                              "l_suppkey" -> DimStride))
    replicate("events", Map("event_id" -> EventStride,
                            "user_id" -> DimStride))
    java.nio.file.Files.write(done.toPath, stamp.getBytes("UTF-8"))
    println(s"[scale-sf] sf1.0 corpus complete at $out")
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SCALE_SRC", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SCALE_SF1_DIR", "/tmp/graft_sf1full")
    val spark = graft.GraftSession()
    build(spark, src, out)
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-evidence data generator: replicates the driver's sf0.1 star
  * schema `reps`× with disjoint key spaces, producing an ~sf1 dataset for
  * the committed BENCH_sf1.json / docs/SCALE.md scaling table (the
  * driver's correctness gate still runs ONLY against its own
  * /root/testdata parquet — this data exists to measure how query time
  * grows 10×, never to define semantics).
  *
  * Replication rules:
  *   - every entity/fact key shifts by `r · KeyStride` (one stride for all
  *     tables keeps FK joins consistent per replica and key spaces
  *     disjoint; stride × reps stays < 2³² so the packed pair kernels'
  *     32-bit id precondition holds at the generated scale);
  *   - region/nation are fixed dimensions — copied once, FKs untouched;
  *   - replica documents get one extra replica-tagged token so
  *     cross-replica texts are NEAR-duplicates of each other only within
  *     their replica (no artificial ×45 exact-dup pair explosion);
  *   - replica embeddings perturb dimension 0 by r·0.003 (cosine is
  *     scale-invariant, so a multiplicative jitter would be invisible);
  *   - event timestamps keep their nanos-long encoding (Tables.events
  *     converts either encoding).
  *
  * Usage: tools/runmain.sh graft.tools.ScaleGen [srcDir] [outDir] [reps]
  * (cores from `SPARK_GRAFT_CPUS`, default 32, as in Bench).
  */
object ScaleGen {
  final val KeyStride = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("data/sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session.local(graft.Session.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, files: Int): Unit =
      df.repartition(files).write.mode("overwrite").parquet(s"$out/$t.parquet")

    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until reps).map(r => shift(df, r)).reduce(_ union _)

    def shifted(df: DataFrame, r: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(r * KeyStride)))

    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)
    write(replicate(read("customer"))((d, r) => shifted(d, r, "c_custkey")), "customer", 4)
    write(replicate(read("supplier"))((d, r) => shifted(d, r, "s_suppkey")), "supplier", 1)
    write(replicate(read("part"))((d, r) => shifted(d, r, "p_partkey")), "part", 2)
    write(replicate(read("orders"))((d, r) =>
      shifted(d, r, "o_orderkey", "o_custkey")), "orders", 8)
    write(replicate(read("lineitem"))((d, r) =>
      shifted(d, r, "l_orderkey", "l_partkey", "l_suppkey")), "lineitem", 16)
    write(replicate(read("events"))((d, r) =>
      shifted(d, r, "event_id", "user_id")), "events", 8)
    write(replicate(read("documents"))((d, r) =>
      shifted(d, r, "doc_id")
        .withColumn("text",
          if (r == 0) col("text") else concat(col("text"), lit(s" zrep${r}tok")))),
      "documents", 8)
    write(replicate(read("embeddings"))((d, r) =>
      shifted(d, r, "vec_id")
        .withColumn("embedding",
          if (r == 0) col("embedding")
          else transform(col("embedding"),
            (v, i) => when(i === 0, v + lit(r * 0.003f)).otherwise(v).cast("float")))),
      "embeddings", 4)

    println(s"[scalegen] wrote ${reps}x $src -> $out")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1-slice generator for the above-sf0.1 scale evidence runs: replicates
  * the driver's sf0.1 testdata `mult`× with disjoint key ranges so the
  * flagship bench rows can be timed at 10× the gate scale (VERDICT r15
  * "Next round" #6). NOT part of the engine surface — a measurement tool,
  * like Bench.
  *
  * Replication semantics (what keeps the workload HONEST at 10×):
  *  - every entity key shifts by `rep * 1e9` so replicas are disjoint and
  *    referential integrity holds within each replica (orders→customer,
  *    lineitem→orders/part/supplier, events→user);
  *  - `documents.text` is CHARACTER-rotated per replica (a per-rep
  *    Caesar bijection over a-z/A-Z, rep 0 verbatim): a bijection
  *    preserves every WITHIN-replica structure exactly (duplicate docs,
  *    shared lines, shingle/winnow relations, token statistics) while
  *    leaving no identical character run across replicas. Token-suffix
  *    salting is NOT enough — char-level operators (winnowing k-grams)
  *    still match the unsalted token interiors across replicas, and the
  *    pair count grows ~mult² instead of tracking the corpus (measured:
  *    dedup_winnow 38× at 10× with suffix salting, 2-3× with rotation);
  *  - `embeddings` get a deterministic per-replica ORTHOGONAL transform
  *    (±1 sign flip per dimension, keyed on (rep, dim)): applied
  *    uniformly to every vector of a replica it preserves all
  *    within-replica angles EXACTLY (the ANN/near-dup structure the
  *    operators work on) while collapsing cross-replica cosines to ~0 —
  *    a small additive perturbation is NOT enough (cos(v, v+ε) ≈ 1 kept
  *    every cross-replica twin a near-dup and the cosine pair row grew
  *    ~mult²; measured 31× at 10×), and exact duplicates destabilize
  *    k-means assignment ties;
  *  - dims (region, nation) are NOT replicated — dims don't grow with
  *    fact volume, and replicating them would break broadcast-join shapes;
  *  - each output table is written as a DIRECTORY of `files` part files
  *    (a real corpus layout — scans parallelize without the single-file
  *    bench workarounds; tools/duck_time.py globs directories).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dest = if (args.length > 1) args(1) else "/dev/shm/graft_sf1"
    val mult = if (args.length > 2) args(2).toInt else 10
    val files = if (args.length > 3) args(3).toInt else 8
    // the Caesar rotation collapses modulo 26: reps r and r+26 would get
    // byte-identical text, silently reintroducing the cross-replica dup
    // blowup the rotation exists to prevent — refuse rather than lie
    require(mult >= 1 && mult <= 26,
      s"mult=$mult: the char-rotation salting supports at most 26 distinct replicas")
    val spark = SparkEntry.configure(
      SparkSession.builder()
        .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", SparkEntry.CodegenCacheMaxEntries)
        .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val SHIFT = 1000000000L

    def reps(df: DataFrame): DataFrame =
      df.withColumn("__rep", explode(sequence(lit(0), lit(mult - 1))))

    def shift(c: String) = (col(c) + col("__rep") * SHIFT).as(c)

    def write(name: String, df: DataFrame): Unit = {
      df.drop("__rep").repartition(files)
        .write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"[scalegen] $name done")
    }

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    // dims: one copy
    Seq("region", "nation").foreach(t => write(t, read(t)))

    write("customer", reps(read("customer"))
      .withColumn("c_custkey", shift("c_custkey")))
    write("supplier", reps(read("supplier"))
      .withColumn("s_suppkey", shift("s_suppkey")))
    write("part", reps(read("part"))
      .withColumn("p_partkey", shift("p_partkey")))
    write("orders", reps(read("orders"))
      .withColumn("o_orderkey", shift("o_orderkey"))
      .withColumn("o_custkey", shift("o_custkey")))
    write("lineitem", reps(read("lineitem"))
      .withColumn("l_orderkey", shift("l_orderkey"))
      .withColumn("l_partkey", shift("l_partkey"))
      .withColumn("l_suppkey", shift("l_suppkey")))
    write("events", reps(read("events"))
      .withColumn("event_id", shift("event_id"))
      .withColumn("user_id", shift("user_id")))
    // per-replica loop (rep is a plain Scala value here): translate()'s
    // mapping arguments must be literals, and the rotation differs per rep
    val lower = "abcdefghijklmnopqrstuvwxyz"
    def rot(s: String, r: Int) = s.drop(r % 26) + s.take(r % 26)
    val docs = read("documents")
    write("documents", (0 until mult).map { r =>
      docs.withColumn("doc_id", (col("doc_id") + lit(r.toLong * SHIFT)).as("doc_id"))
        .withColumn("text",
          if (r == 0) col("text")
          else translate(col("text"),
            lower + lower.toUpperCase,
            rot(lower, r) + rot(lower, r).toUpperCase))
    }.reduce(_ unionByName _))
    val emb = read("embeddings")
    write("embeddings", (0 until mult).map { r =>
      emb.withColumn("vec_id", (col("vec_id") + lit(r.toLong * SHIFT)).as("vec_id"))
        .withColumn("embedding",
          if (r == 0) col("embedding")
          else expr(s"transform(embedding, (x, i) -> " +
            s"cast(x * (1 - 2 * pmod(hash($r, i), 2)) as float))"))
    }.reduce(_ unionByName _))

    spark.stop()
  }
}

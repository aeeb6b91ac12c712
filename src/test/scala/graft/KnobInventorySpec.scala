package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable and `spark.graft.*` conf key the engine
  * reads, as committed lists: a new knob needs an edit here, in review. */
class KnobInventorySpec extends AnyFunSuite {
  private val EnvVars = Set(
    "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_BENCH_STAMPED", "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_EXPLAIN", "SPARK_GRAFT_FS_SETTLE", "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_REPEAT", "SPARK_GRAFT_SCALE", "SPARK_GRAFT_SF_DIR")
  private val ConfKeys = Set(
    "spark.graft.cc.localEdgeBytes", "spark.graft.cc.localEdgeThreshold",
    "spark.graft.fanOutInputs", "spark.graft.keyIndex.bigDeltaBytes",
    "spark.graft.keyIndex.buckets", "spark.graft.keyIndex.compactAt",
    "spark.graft.keyIndex.enabled", "spark.graft.keyIndex.minTargetBytes",
    "spark.graft.scratchRoot", "spark.graft.streamDrainPartitions")

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  test("environment variables read by the engine are the committed list") {
    val envRead = """(?:sys\.env|System\.getenv)""".r
    val keyed = """(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\(\s*"([^"]+)"""".r
    val unkeyed = sources.collect { case (p, s)
      if envRead.findAllMatchIn(s).size != keyed.findAllMatchIn(s).size => p }
    assert(unkeyed.isEmpty, s"environment read without a literal key in $unkeyed")
    val found = sources.flatMap { case (_, s) => keyed.findAllMatchIn(s).map(_.group(1)) }.toSet
    assert(found == EnvVars,
      s"added: ${found -- EnvVars}; no longer read: ${EnvVars -- found}")
  }

  test("spark.graft.* conf keys read by the engine are the committed list") {
    val key = """"(spark\.graft\.[A-Za-z0-9_.]+)"""".r
    val found = sources.flatMap { case (_, s) => key.findAllMatchIn(s).map(_.group(1)) }.toSet
    assert(sources.nonEmpty && found == ConfKeys,
      s"added: ${found -- ConfKeys}; no longer read: ${ConfKeys -- found}")
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ext.Graph

/** The iterative operators' frame lifecycle: an operator frees only the
  * blocks it created, and the lifecycle idiom stays in `ext.Frames`. */
class FramesSpec extends SparkSpec {
  import spark.implicits._

  test("the forest operators leave a caller's persisted input cached") {
    // a triangle with a pendant edge: one bridge, one cut vertex
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("id_a", "id_b")
    val ops = Seq[(String, DataFrame => DataFrame)](
      "bridges" -> (Graph.bridges(_, 8)),
      "twoEdgeConnectedComponents" -> (Graph.twoEdgeConnectedComponents(_, 8)),
      "biconnectedLabels" -> (Graph.biconnectedLabels(_, 8)),
      "articulationPoints" -> (Graph.articulationPoints(_, 8)))
    ops.zipWithIndex.foreach { case ((name, op), i) =>
      // persisted but not yet materialized — the operator's first action
      // fills it; an own literal column per op keeps the cache entries apart
      val input = edges.withColumn("tag", lit(i)).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        assert(op(input).collect().nonEmpty, name)
        val cached = spark.sharedState.cacheManager.lookupCachedData(
          input.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        assert(cached.isDefined, s"$name: the input's cache entry is gone")
        val buffers = cached.get.cachedRepresentation.cacheBuilder.cachedColumnBuffers
        assert(buffers.getStorageLevel != StorageLevel.NONE,
          s"$name unpersisted the caller's input")
        assert(spark.sparkContext.getPersistentRDDs.contains(buffers.id),
          s"$name dropped the caller's input from the persistent-RDD registry")
      } finally input.unpersist(blocking = true)
    }
  }

  test("the frame-lifecycle idiom lives in ext/Frames.scala only") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (cwd ${root.getAbsolutePath})")
    import scala.jdk.CollectionConverters._
    val sources = java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.toPath.relativize(p).toString.replace('\\', '/') ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toSeq
    assert(sources.exists(_._1 == "graft/ext/Frames.scala"))
    val harness = Set("graft/Bench.scala", "graft/Verify.scala",
      "graft/tools/JobsProbe.scala")
    val registry = sources.collect {
      case (f, text) if text.contains("getPersistentRDDs") && !harness(f) => f
    }
    assert(registry.isEmpty,
      s"getPersistentRDDs outside the harness mains: ${registry.mkString(", ")}")
    val rebindCopy = """createDataFrame\(\s*(\w+)\.rdd\s*,\s*\1\.schema\s*\)""".r
    val lifecycle = sources.collect {
      case (f, text) if f != "graft/ext/Frames.scala" &&
        (rebindCopy.findFirstIn(text).isDefined || text.contains("localCheckpoint()")) => f
    }
    assert(lifecycle.isEmpty,
      s"rebind or localCheckpoint outside ext/Frames.scala: ${lifecycle.mkString(", ")}")
  }
}

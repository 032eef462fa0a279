package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reliable-checkpoint gate on Caching.checkpointed. */
class Round14OpsSpec extends AnyFunSuite {
  import TestSpark.spark

  test("checkpointed with spark.graft.checkpointDir uses a reliable checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val ck = Caching.checkpointed(df)
      // same rows, plan truncated to a leaf, and the checkpoint landed in
      // the configured fault-tolerant dir (not executor-local storage)
      assert(ck.collect().map(_.getLong(0)).sorted.sameElements(0L until 100L))
      assert(ck.queryExecution.analyzed.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "no checkpoint files written to spark.graft.checkpointDir")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("checkpointed with spark.graft.checkpointDir reuses one checkpoint subdirectory") {
    // SparkContext.setCheckpointDir(dir) makes a fresh <dir>/<UUID>; two
    // checkpoints under one configured dir must share the first one
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      Caching.checkpointed(spark.range(10).toDF("id"))
      Caching.checkpointed(spark.range(20).toDF("id"))
      val subdirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isDirectory(p)).count()
      assert(subdirs === 1L)
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("checkpointed without the conf stays local (no checkpoint files)") {
    val df = spark.range(50).toDF("id")
    val ck = Caching.checkpointed(df)
    assert(ck.count() === 50)
    assert(ck.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
  }
}

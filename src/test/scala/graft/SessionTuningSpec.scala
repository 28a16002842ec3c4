package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class SessionTuningSpec extends AnyFunSuite {

  test("sweepStale removes only scratch dirs of dead pids, however old " +
    "a live pid's dir is") {
    val root = Files.createTempDirectory("graft_scratch").toFile
    // a live run's tree that has sat idle for a day: must survive
    val live = new java.io.File(root,
      s"pid-${ProcessHandle.current().pid()}")
    new java.io.File(live, "blockmgr-1").mkdirs()
    val dayAgo = System.currentTimeMillis() - 24L * 3600 * 1000
    assert(live.setLastModified(dayAgo))
    // a crash-killed run's tree: its process has exited
    val exited = new ProcessBuilder("true").start()
    exited.waitFor()
    val dead = new java.io.File(root, s"pid-${exited.pid()}")
    new java.io.File(dead, "spark-1").mkdirs()
    // not a pid dir: never touched
    val other = new java.io.File(root, "spark-unowned")
    other.mkdirs()
    assert(other.setLastModified(dayAgo))

    SessionTuning.sweepStale(root)

    assert(!dead.exists(), "dead pid's scratch survived the sweep")
    assert(new java.io.File(live, "blockmgr-1").isDirectory,
      "live pid's scratch was swept")
    assert(other.isDirectory, "a non-pid dir was swept")
  }

  test("the test session runs on the shipped session settings") {
    val conf = SparkSpec.session.conf
    assert(conf.get("spark.sql.artifact.isolation.enabled") == "false")
    val hadoopConf = SparkSpec.session.sparkContext.hadoopConfiguration
    assert(hadoopConf.get("fs.file.impl") ==
      "graft.hadoop.NoForkLocalFileSystem")
    // Hadoop casts the file:// instance to LocalFileSystem here (the
    // RocksDB state store's checkpoint upload path)
    assert(org.apache.hadoop.fs.FileSystem.getLocal(hadoopConf)
      .isInstanceOf[graft.hadoop.NoForkLocalFileSystem])
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
  }
}

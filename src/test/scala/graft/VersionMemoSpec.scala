package graft

import graft.io.VersionMemo
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** The file-version memo: one load per version of the source files, a
  * reload on the next call after they move, no Spark job to tell, and a
  * fixed number of keys however many paths are read.
  */
class VersionMemoSpec extends SparkSpec {
  import spark.implicits._

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))

  test("a value loads once per file version, and a rewrite reloads it " +
    "on the next call") {
    val f = Files.createTempDirectory("graft_memo").resolve("a.txt").toString
    write(f, "one")
    val loads = new AtomicInteger(0)
    def read(): String = VersionMemo(spark, ("memo-spec", f), Seq(f)) {
      loads.incrementAndGet()
      new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8)
    }
    assert((1 to 3).map(_ => read()) == Seq("one", "one", "one"))
    assert(loads.get == 1)
    write(f, "three") // a new length: a new version
    assert(read() == "three" && read() == "three")
    assert(loads.get == 2)
  }

  test("a directory's version moves when a file is added, and a " +
    "missing location is never memoized") {
    val d = Files.createTempDirectory("graft_memodir").toString
    write(s"$d/part-0", "x")
    val v0 = VersionMemo.version(spark, Seq(d))
    assert(v0.isDefined && VersionMemo.version(spark, Seq(d)) == v0)
    write(s"$d/part-1", "y")
    assert(VersionMemo.version(spark, Seq(d)).exists(_ != v0.get))
    val gone = s"$d/absent.csv"
    assert(VersionMemo.version(spark, Seq(gone)).isEmpty)
    val loads = new AtomicInteger(0)
    (1 to 3).foreach(_ =>
      VersionMemo(spark, ("memo-spec", gone), Seq(gone))(loads.incrementAndGet()))
    assert(loads.get == 3)
  }

  test("the memo keeps at most MaxEntries keys however many paths are " +
    "read, evicting the least recently used") {
    val d = Files.createTempDirectory("graft_memocap").toString
    val n = VersionMemo.MaxEntries + 20
    val loads = new AtomicInteger(0)
    def read(i: Int): Int = {
      val f = s"$d/arrival_$i.csv"
      VersionMemo(spark, ("memo-cap", f), Seq(f)) {
        loads.incrementAndGet()
        i
      }
    }
    (0 until n).foreach { i => write(s"$d/arrival_$i.csv", s"$i"); read(i) }
    assert(loads.get == n)
    assert(VersionMemo.size <= VersionMemo.MaxEntries)
    // the newest key is still held, the oldest was evicted
    assert(read(n - 1) == n - 1 && loads.get == n)
    assert(read(0) == 0 && loads.get == n + 1)
  }

  test("telling a table's version starts no Spark job") {
    val loc = Files.createTempDirectory("graft_memojobs").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_memodb LOCATION '$loc'")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.format("parquet")
      .mode("overwrite").saveAsTable("graft_memodb.t")
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    try {
      val path = s"$loc/t"
      org.apache.spark.GraftListenerBus.drain(sc)
      sc.addSparkListener(listener)
      (1 to 5).foreach(_ => assert(VersionMemo.version(spark, Seq(path)).isDefined))
      org.apache.spark.GraftListenerBus.drain(sc)
      assert(jobs.get == 0)
    } finally {
      sc.removeSparkListener(listener)
      spark.sql("DROP DATABASE IF EXISTS graft_memodb CASCADE")
    }
  }

  test("a model another session overwrites is loaded by this session's " +
    "next call, and this session's reads of the table see it") {
    import graft.ext.QualityModel
    val loc = Files.createTempDirectory("graft_memoxs").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_memoxsdb LOCATION '$loc'")
    val t = "graft_memoxsdb.qm"
    try {
      QualityModel.writeQualityModel(spark, t, Seq(1L, 2L, 3L))
      val reader = spark.newSession()
      assert(QualityModel.loadQualityModel(reader, t)._1.toSeq == Seq(1L, 2L, 3L))
      // a caller may not change the memoized lattice
      QualityModel.loadQualityModel(reader, t)._1(0) = 99L
      assert(QualityModel.loadQualityModel(reader, t)._1.toSeq == Seq(1L, 2L, 3L))
      QualityModel.writeQualityModel(spark, t, Seq(4L, 5L, 6L, 7L), salt = "s2")
      val (w, salt) = QualityModel.loadQualityModel(reader, t)
      assert(w.toSeq == Seq(4L, 5L, 6L, 7L) && salt == "s2")
      assert(reader.table(t).count() == 4L)
    } finally spark.sql("DROP DATABASE IF EXISTS graft_memoxsdb CASCADE")
  }
}

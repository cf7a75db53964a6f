package graft.queries

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.scalatest.BeforeAndAfterAll

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** The build-once fixture cache ([[QueryShapes.buildOnce]]): keyed on the
  * corpus, published whole, safe under concurrent builders. */
class QueryShapesSpec extends SparkSpec with BeforeAndAfterAll {
  private val root = Files.createTempDirectory("graft_qs_")
  private val names = scala.collection.mutable.ArrayBuffer.empty[String]

  // fixture names unique per run, so no earlier run's fixture is reused
  private def name(): String = {
    names += s"spec_${java.util.UUID.randomUUID().toString.take(8)}_v1"
    names.last
  }

  private def corpus(dir: String, bytes: String): String = {
    Files.createDirectories(root.resolve(dir))
    Files.writeString(root.resolve(dir).resolve("embeddings.parquet"), bytes)
    root.resolve(dir).toString
  }

  private def fixtureRoot = Paths.get(QueryShapes.fixtureDir(spark, "x", root.toString)).getParent

  /** Everything this spec's fixture `name` left in the fixture root. */
  private def entries(name: String): Seq[Path] = {
    val ls = Files.list(fixtureRoot)
    try ls.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith(s"${name}_"))
    finally ls.close()
  }

  override def afterAll(): Unit = {
    try {
      names.flatMap(entries).foreach(p => FileUtils.deleteQuietly(p.toFile))
      FileUtils.deleteQuietly(root.toFile)
    } finally super.afterAll()
  }

  test("a corpus regenerated under the same path rebuilds the fixture") {
    val dir = corpus("regen", "first")
    val n = name()
    val builds = new AtomicInteger(0)
    def build(out: String): Unit = {
      builds.incrementAndGet()
      Files.writeString(Paths.get(out, "model"), s"build ${builds.get}")
    }
    val a = QueryShapes.buildOnce(spark, n, dir)(build)
    assert(QueryShapes.buildOnce(spark, n, dir)(build) == a)
    assert(builds.get == 1)
    corpus("regen", "regenerated, longer")
    val b = QueryShapes.buildOnce(spark, n, dir)(build)
    assert(b != a)
    assert(builds.get == 2)
    assert(Files.readString(Paths.get(b, "model")) == "build 2")
  }

  test("/a/b and /a_b key distinct fixtures, even over identical files") {
    val ab = corpus("a/b", "same")
    val a_b = corpus("a_b", "same")
    Files.setLastModifiedTime(Paths.get(a_b, "embeddings.parquet"),
      Files.getLastModifiedTime(Paths.get(ab, "embeddings.parquet")))
    val n = name()
    assert(QueryShapes.buildOnce(spark, n, ab)(_ => ()) !=
      QueryShapes.buildOnce(spark, n, a_b)(_ => ()))
  }

  test("a fixture keyed on one table survives regenerating another") {
    val dir = corpus("one_table", "emb")
    val emb = Paths.get(dir, "embeddings.parquet").toString
    val n = name()
    val a = QueryShapes.buildOnce(spark, n, emb)(_ => ())
    Files.writeString(Paths.get(dir, "lineitem.parquet"), "regenerated")
    assert(QueryShapes.buildOnce(spark, n, emb)(_ => fail("rebuilt")) == a)
  }

  test("a publish removes a killed build's stale temp dir, not a live one") {
    val dir = corpus("stale", "c")
    val n = name()
    val stale = Files.createDirectories(fixtureRoot.resolve(s"${n}_building_stale"))
    val live = Files.createDirectories(fixtureRoot.resolve(s"${n}_building_live"))
    stale.toFile.setLastModified(
      System.currentTimeMillis() - QueryShapes.StaleBuildMs - 60000L)
    QueryShapes.buildOnce(spark, n, dir)(_ => ())
    assert(!Files.exists(stale))
    assert(Files.exists(live))
  }

  test("a failed build publishes nothing and leaves no temp dir") {
    val dir = corpus("fail", "c")
    val n = name()
    intercept[IllegalStateException](QueryShapes.buildOnce(spark, n, dir) { out =>
      Files.writeString(Paths.get(out, "half"), "x")
      throw new IllegalStateException("build died")
    })
    assert(entries(n).isEmpty)
  }

  test("concurrent builders publish one complete fixture and both use it") {
    val dir = corpus("race", "c")
    val n = name()
    val gate = new java.util.concurrent.CountDownLatch(2)
    def build(tag: String)(out: String): Unit = {
      gate.countDown(); gate.await() // both are building at once
      Files.writeString(Paths.get(out, "model"), tag)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val got = Seq("one", "two").map(t => pool.submit(() =>
        QueryShapes.buildOnce(spark, n, dir)(build(t)))).map(_.get())
      assert(got.distinct.size == 1)
      assert(Set("one", "two")(Files.readString(Paths.get(got.head, "model"))))
      assert(Files.exists(Paths.get(got.head, "_DONE")))
      assert(entries(n).map(_.toString) == Seq(got.head)) // no temp dir left
    } finally pool.shutdown()
  }
}

package graft.tools

import graft.SparkSpec

/** Every (face, mode) pair [[FoldRun]] offers, driven end to end over two
  * staged batches at scale 1: each leg must report its fold EQUAL to the
  * batch twin (the windowed legs at width 1, so the ring has evicted). */
class FoldRunSpec extends SparkSpec {
  private val opts = FoldRun.Options(scales = Seq(1), batches = 2,
    widths = Seq(1))

  private val pairs =
    for (face <- Seq("hh", "hist", "sample", "moments", "comoments", "distinct");
         mode <- Seq("flat", "grouped") ++
           (if (Set("moments", "hist", "distinct")(face)) Seq("windowed") else Nil))
    yield (face, mode)

  test("FoldRun offers exactly the 15 (face, mode) pairs") {
    assert(pairs.size == 15)
    val e = intercept[IllegalArgumentException](
      FoldRun.run(spark, "hh", "windowed", sfDir, opts))
    assert(e.getMessage.contains("unsupported --face hh --mode windowed"))
  }

  for ((face, mode) <- pairs) test(s"FoldRun --face $face --mode $mode reports EQUAL") {
    val out = new java.io.ByteArrayOutputStream()
    val legs = Console.withOut(out)(FoldRun.run(spark, face, mode, sfDir, opts))
    assert(legs.size == (if (face == "sample") 2 else 1))
    assert(legs.forall(_.equal), legs.mkString(", "))
    assert("equivalence=EQUAL".r.findAllIn(out.toString).size == legs.size,
      out.toString)
  }

  test("FoldRun width leg reaches the requested group count") {
    val out = new java.io.ByteArrayOutputStream()
    val legs = Console.withOut(out)(FoldRun.run(spark, "moments", "grouped",
      sfDir, opts.copy(groups = Some(7))))
    assert(legs.map(_.equal) == Seq(true))
    assert(out.toString.contains("(7 groups x seven exact numbers)"), out.toString)
  }
}

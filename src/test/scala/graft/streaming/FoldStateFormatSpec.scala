package graft.streaming

import graft.SparkSpec
import graft.operators.HistogramSketch.HistogramSpec
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The on-disk state format of all sixteen streaming folds, pinned byte
  * for byte: each face folds one fixed tiny batch through `applyBatch`,
  * the state file it writes must equal the literal below, and that
  * literal, installed in a fresh state dir, must read back to the
  * snapshot the fold returned. A change to field order, key sort order,
  * number formatting or file naming fails here before it can strand an
  * operator's existing state dirs. */
class FoldStateFormatSpec extends SparkSpec {

  private val ck = "file:/fmt/ckpt"

  private def df(schema: StructType, rows: Seq[Any]*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r: _*)): _*), schema)

  private val longs = df(new StructType().add("value", LongType),
    Seq(3L), Seq(null), Seq(-7L), Seq(12L))
  private val groupedLongs = df(
    new StructType().add("source", StringType).add("value", LongType),
    Seq("b", 4L), Seq("a", 1L), Seq(null, 9L), Seq("a", null),
    Seq("c", -2L), Seq("b", 6L))
  private val pairs = df(
    new StructType().add("source", StringType)
      .add("x", LongType).add("y", LongType),
    Seq("b", 1L, 2L), Seq("a", 3L, null), Seq("a", -1L, 5L),
    Seq(null, 8L, 8L), Seq("b", 4L, -6L))
  private val strings = df(
    new StructType().add("source", StringType).add("value", StringType),
    Seq("b", "x"), Seq("a", "y"), Seq("a", "x"), Seq(null, "z"),
    Seq("b", null), Seq("c", "w"))
  private val docs = df(
    new StructType().add("doc_id", LongType).add("source", StringType)
      .add("text", StringType),
    Seq(1L, "b", "red red blue"), Seq(2L, "a", "green red"),
    Seq(3L, null, "red gray"), Seq(4L, "a", "blue blue blue"))
  private val doubles = df(
    new StructType().add("source", StringType).add("value", DoubleType),
    Seq("b", 0.05), Seq("a", 0.5), Seq("a", 0.95), Seq(null, 0.25),
    Seq("b", -1.0), Seq("c", 2.5), Seq("a", null))
  private val ids = df(
    new StructType().add("source", StringType).add("doc_id", LongType)
      .add("value", DoubleType),
    Seq("b", 11L, 1.5), Seq("a", 12L, null), Seq("a", 13L, -0.5),
    Seq(null, 14L, 2.0), Seq("b", 15L, 4.25), Seq("c", 16L, 0.0))
  private val spec = HistogramSpec(0.0, 1.0, 4)

  /** Fold, compare the written bytes with `expected`, then install
    * `expected` in a fresh dir and read it back. */
  private def pin[S](face: String, file: String, expected: String)(
      fold: String => S, read: String => S): Unit =
    test(s"$face writes the pinned $file and reads it back") {
      val dir = Files.createTempDirectory("graft_fmt_").toString
      val snap = fold(dir)
      val written = new String(Files.readAllBytes(Paths.get(dir, file)), UTF_8)
      assert(written == expected)
      val fresh = Files.createTempDirectory("graft_fmt_rd_")
      Files.write(fresh.resolve(file), expected.getBytes(UTF_8))
      assert(read(fresh.toString) == snap)
    }

  pin("moments", "moments_state.json",
    """{"value_col":"value","checkpoint":"file:/fmt/ckpt","batch_id":0,"n_rows":4,"n_null":1,"min":-7,"max":12,"sum":"8","sum_sq":"202"}""")(
    StreamingMoments.applyBatch(spark, _, ck, longs, "value", 0L),
    StreamingMoments.readState(spark, _))

  pin("grouped moments", "moments_grouped_state.json",
    """{"value_col":"value","checkpoint":"file:/fmt/ckpt","batch_id":0,"excluded_null_rows":1,"groups":{"a":{"n_rows":2,"n_null":1,"min":1,"max":1,"sum":"1","sum_sq":"1"},"b":{"n_rows":2,"n_null":0,"min":4,"max":6,"sum":"10","sum_sq":"52"},"c":{"n_rows":1,"n_null":0,"min":-2,"max":-2,"sum":"-2","sum_sq":"4"}}}""")(
    StreamingGroupedMoments.applyBatch(spark, _, 10, ck, groupedLongs,
      "source", "value", 0L),
    StreamingGroupedMoments.readState(spark, _))

  pin("windowed moments", "moments_window_state.json",
    """{"value_col":"value","checkpoint":"file:/fmt/ckpt","window":3,"batch_id":0,"ring":[{"batch_id":0,"n_rows":4,"n_null":1,"min":-7,"max":12,"sum":"8","sum_sq":"202"}]}""")(
    StreamingWindowedMoments.applyBatch(spark, _, 3, ck, longs, "value", 0L),
    StreamingWindowedMoments.readState(spark, _))

  pin("comoments", "comoments_state.json",
    """{"x_col":"x","y_col":"y","checkpoint":"file:/fmt/ckpt","batch_id":0,"n_rows":5,"n_null_x":0,"n_null_y":1,"n":4,"x_min":-1,"x_max":8,"y_min":-6,"y_max":8,"x_sum":"12","y_sum":"9","x_sum_sq":"82","y_sum_sq":"129","xy_sum":"37"}""")(
    StreamingComoments.applyBatch(spark, _, ck, pairs, "x", "y", 0L),
    StreamingComoments.readState(spark, _))

  pin("grouped comoments", "comoments_grouped_state.json",
    """{"x_col":"x","y_col":"y","checkpoint":"file:/fmt/ckpt","batch_id":0,"excluded_null_rows":1,"groups":{"a":{"n_rows":2,"n_null_x":0,"n_null_y":1,"n":1,"x_min":-1,"x_max":-1,"y_min":5,"y_max":5,"x_sum":"-1","y_sum":"5","x_sum_sq":"1","y_sum_sq":"25","xy_sum":"-5"},"b":{"n_rows":2,"n_null_x":0,"n_null_y":0,"n":2,"x_min":1,"x_max":4,"y_min":-6,"y_max":2,"x_sum":"5","y_sum":"-4","x_sum_sq":"17","y_sum_sq":"40","xy_sum":"-22"}}}""")(
    StreamingGroupedComoments.applyBatch(spark, _, 10, ck, pairs, "source",
      "x", "y", 0L),
    StreamingGroupedComoments.readState(spark, _))

  pin("distinct", "distinct_state.json",
    """{"lg_k":4,"value_col":"value","checkpoint":"file:/fmt/ckpt","batch_id":0,"n_rows":6,"n_null":1,"sketch":"AgEHBAMABAhy4pIO/ZORBgohuAeDJ+kEAAAAAAAAAAAAAAAAAAAAAA=="}""")(
    StreamingDistinct.applyBatch(spark, _, 4, ck, strings, "value", 0L),
    StreamingDistinct.readState(spark, _))

  pin("grouped distinct", "distinct_grouped_state.json",
    """{"lg_k":4,"value_col":"value","checkpoint":"file:/fmt/ckpt","batch_id":0,"excluded_null_rows":1,"groups":{"a":{"n_rows":2,"n_null":0,"sketch":"AgEHBAMAAgj9k5EGcuKSDgAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA=="},"b":{"n_rows":2,"n_null":1,"sketch":"AgEHBAMAAQhy4pIOAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA=="},"c":{"n_rows":1,"n_null":0,"sketch":"AgEHBAMAAQiDJ+kEAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA=="}}}""")(
    StreamingGroupedDistinct.applyBatch(spark, _, 4, 10, ck, strings,
      "source", "value", 0L),
    StreamingGroupedDistinct.readState(spark, _))

  pin("windowed distinct", "distinct_window_state.json",
    """{"lg_k":4,"value_col":"value","checkpoint":"file:/fmt/ckpt","window":3,"batch_id":0,"ring":[{"batch_id":0,"n_rows":6,"n_null":1,"sketch":"AgEHBAMABAhy4pIO/ZORBgohuAeDJ+kEAAAAAAAAAAAAAAAAAAAAAA=="}]}""")(
    StreamingWindowedDistinct.applyBatch(spark, _, 4, 3, ck, strings,
      "value", 0L),
    StreamingWindowedDistinct.readState(spark, _))

  pin("heavy hitters", "mg_state.json",
    """{"k":3,"checkpoint":"file:/fmt/ckpt","batch_id":0,"n":10,"counts":{"red":3,"blue":3}}""")(
    StreamingHeavyHitters.applyBatch(spark, _, 3, ck, docs, 0L),
    StreamingHeavyHitters.readState(spark, _))

  pin("grouped heavy hitters", "mg_grouped_state.json",
    """{"k":3,"checkpoint":"file:/fmt/ckpt","batch_id":0,"excluded_null_rows":1,"groups":{"a":{"n":5,"counts":{"red":1,"green":1,"blue":3}},"b":{"n":3,"counts":{"red":2,"blue":1}}}}""")(
    StreamingGroupedHeavyHitters.applyBatch(spark, _, 3, 10, ck, docs, 0L),
    StreamingGroupedHeavyHitters.readState(spark, _))

  pin("windowed heavy hitters", "mg_window_state.json",
    """{"k":3,"checkpoint":"file:/fmt/ckpt","window":3,"batch_id":0,"ring":[{"batch_id":0,"n":10,"counts":{"blue":3,"red":3}}]}""")(
    StreamingWindowedHeavyHitters.applyBatch(spark, _, 3, 3, ck, docs, 0L),
    StreamingWindowedHeavyHitters.readState(spark, _))

  pin("histogram", "hist_state.json",
    """{"lo":0.0,"hi":1.0,"n_bins":4,"checkpoint":"file:/fmt/ckpt","batch_id":0,"n":6,"bins":{"-1":1,"0":1,"1":1,"2":1,"3":1,"4":1}}""")(
    StreamingHistogram.applyBatch(spark, _, spec, ck, doubles, "value", 0L),
    StreamingHistogram.readState(spark, _))

  pin("grouped histogram", "hist_grouped_state.json",
    """{"lo":0.0,"hi":1.0,"n_bins":4,"checkpoint":"file:/fmt/ckpt","batch_id":0,"excluded_null_rows":1,"groups":{"a":{"n":2,"bins":{"2":1,"3":1}},"b":{"n":2,"bins":{"-1":1,"0":1}},"c":{"n":1,"bins":{"4":1}}}}""")(
    StreamingGroupedHistogram.applyBatch(spark, _, spec, 10, ck, doubles,
      "source", "value", 0L),
    StreamingGroupedHistogram.readState(spark, _))

  pin("windowed histogram", "hist_window_state.json",
    """{"lo":0.0,"hi":1.0,"n_bins":4,"checkpoint":"file:/fmt/ckpt","window":3,"batch_id":0,"ring":[{"batch_id":0,"n":6,"bins":{"-1":1,"0":1,"1":1,"2":1,"3":1,"4":1}}]}""")(
    StreamingWindowedHistogram.applyBatch(spark, _, spec, 3, ck, doubles,
      "value", 0L),
    StreamingWindowedHistogram.readState(spark, _))

  pin("sample", "sample_state.json",
    """{"k":4,"salt":"fmt","checkpoint":"file:/fmt/ckpt","batch_id":0,"n_seen":6,"entries":[{"key":348117934,"id":16,"value":0.0},{"key":1364843136,"id":15,"value":4.25},{"key":1836130009,"id":14,"value":2.0},{"key":3404305355,"id":11,"value":1.5}]}""")(
    StreamingSample.applyBatch(spark, _, 4, "fmt", ck, ids, "doc_id",
      Some("value"), 0L),
    StreamingSample.readState(spark, _))

  pin("grouped sample", "sample_grouped_state.json",
    """{"k":2,"salt":"fmt","checkpoint":"file:/fmt/ckpt","batch_id":0,"excluded_null_rows":1,"groups":{"a":{"n_seen":2,"entries":[{"key":3865655485,"id":12},{"key":4262899963,"id":13,"value":-0.5}]},"b":{"n_seen":2,"entries":[{"key":1364843136,"id":15,"value":4.25},{"key":3404305355,"id":11,"value":1.5}]},"c":{"n_seen":1,"entries":[{"key":348117934,"id":16,"value":0.0}]}}}""")(
    StreamingGroupedSample.applyBatch(spark, _, 2, "fmt", 10, ck, ids,
      "source", "doc_id", Some("value"), 0L),
    StreamingGroupedSample.readState(spark, _))
}

package graft.serve

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SparkSpec
import graft.store.VectorStore
import java.net.URI
import java.net.http.{HttpClient, HttpRequest}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

/** The admin streaming-profile surface pinned envelope for envelope: the
  * six faces (frequent-items, histogram, sample, moments, distinct,
  * comoments) on every rung of the selection ladder, `/admin/profile`,
  * `/frequent-items/recount` and `/histogram/from-sample`.
  *
  * No stream runs: each state dir is made by installing a fixed state-file
  * literal (the `FoldStateFormatSpec` format), and the verify sources are
  * tiny parquet corpora holding the rows those literals fold. Every 200
  * body must equal its literal as a parsed JSON tree (object field order
  * free, array order pinned); every error shape pins its status code. */
class AdminFaceEnvelopeSpec extends SparkSpec with BeforeAndAfterAll {

  private val mapper = new ObjectMapper()
  private lazy val client = HttpClient.newHttpClient()
  private lazy val store = new VectorStore(spark,
    Files.createTempDirectory("graft_env_store_").toString)

  // ---- state-file literals (one fixed batch per face) ----

  private val ck = "\"checkpoint\":\"file:/fmt/ckpt\",\"batch_id\":0"
  private val mgFlat =
    s"""{"k":8,$ck,"n":10,"counts":{"red":4,"blue":4,"green":1,"gray":1}}"""
  private val mgGrouped =
    s"""{"k":8,$ck,"excluded_null_rows":1,"groups":{"a":{"n":5,"counts":{"red":1,"green":1,"blue":3}},"b":{"n":3,"counts":{"red":2,"blue":1}}}}"""
  private val mgWindow =
    """{"k":3,"checkpoint":"file:/fmt/ckpt","window":3,"batch_id":0,"ring":[{"batch_id":0,"n":10,"counts":{"blue":3,"red":3}}]}"""
  private val histFlat =
    s"""{"lo":0.0,"hi":1.0,"n_bins":4,$ck,"n":6,"bins":{"-1":1,"0":1,"1":1,"2":1,"3":1,"4":1}}"""
  private val histGrouped =
    s"""{"lo":0.0,"hi":1.0,"n_bins":4,$ck,"excluded_null_rows":1,"groups":{"a":{"n":2,"bins":{"2":1,"3":1}},"b":{"n":2,"bins":{"-1":1,"0":1}},"c":{"n":1,"bins":{"4":1}}}}"""
  private val histWindow =
    """{"lo":0.0,"hi":1.0,"n_bins":4,"checkpoint":"file:/fmt/ckpt","window":3,"batch_id":0,"ring":[{"batch_id":0,"n":6,"bins":{"-1":1,"0":1,"1":1,"2":1,"3":1,"4":1}}]}"""
  private val sampleFlat =
    s"""{"k":4,"salt":"fmt",$ck,"n_seen":6,"entries":[{"key":348117934,"id":16,"value":0.0},{"key":1364843136,"id":15,"value":4.25},{"key":1836130009,"id":14,"value":2.0},{"key":3404305355,"id":11,"value":1.5}]}"""
  private val sampleGrouped =
    s"""{"k":2,"salt":"fmt",$ck,"excluded_null_rows":1,"groups":{"a":{"n_seen":2,"entries":[{"key":3865655485,"id":12},{"key":4262899963,"id":13,"value":-0.5}]},"b":{"n_seen":2,"entries":[{"key":1364843136,"id":15,"value":4.25},{"key":3404305355,"id":11,"value":1.5}]},"c":{"n_seen":1,"entries":[{"key":348117934,"id":16,"value":0.0}]}}}"""
  private val momentsFlat =
    s"""{"value_col":"value",$ck,"n_rows":4,"n_null":1,"min":-7,"max":12,"sum":"8","sum_sq":"202"}"""
  private val momentsGrouped =
    s"""{"value_col":"value",$ck,"excluded_null_rows":1,"groups":{"a":{"n_rows":2,"n_null":1,"min":1,"max":1,"sum":"1","sum_sq":"1"},"b":{"n_rows":2,"n_null":0,"min":4,"max":6,"sum":"10","sum_sq":"52"},"c":{"n_rows":1,"n_null":0,"min":-2,"max":-2,"sum":"-2","sum_sq":"4"}}}"""
  private val momentsWindow =
    """{"value_col":"value","checkpoint":"file:/fmt/ckpt","window":3,"batch_id":0,"ring":[{"batch_id":0,"n_rows":4,"n_null":1,"min":-7,"max":12,"sum":"8","sum_sq":"202"}]}"""
  private val distinctFlat =
    s"""{"lg_k":4,"value_col":"value",$ck,"n_rows":6,"n_null":1,"sketch":"AgEHBAMABAhy4pIO/ZORBgohuAeDJ+kEAAAAAAAAAAAAAAAAAAAAAA=="}"""
  private val distinctGrouped =
    s"""{"lg_k":4,"value_col":"value",$ck,"excluded_null_rows":1,"groups":{"a":{"n_rows":2,"n_null":0,"sketch":"AgEHBAMAAgj9k5EGcuKSDgAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA=="},"b":{"n_rows":2,"n_null":1,"sketch":"AgEHBAMAAQhy4pIOAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA=="},"c":{"n_rows":1,"n_null":0,"sketch":"AgEHBAMAAQiDJ+kEAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA=="}}}"""
  private val distinctWindow =
    """{"lg_k":4,"value_col":"value","checkpoint":"file:/fmt/ckpt","window":3,"batch_id":0,"ring":[{"batch_id":0,"n_rows":6,"n_null":1,"sketch":"AgEHBAMABAhy4pIO/ZORBgohuAeDJ+kEAAAAAAAAAAAAAAAAAAAAAA=="}]}"""
  private val comomentsFlat =
    s"""{"x_col":"x","y_col":"y",$ck,"n_rows":5,"n_null_x":0,"n_null_y":1,"n":4,"x_min":-1,"x_max":8,"y_min":-6,"y_max":8,"x_sum":"12","y_sum":"9","x_sum_sq":"82","y_sum_sq":"129","xy_sum":"37"}"""
  private val comomentsGrouped =
    s"""{"x_col":"x","y_col":"y",$ck,"excluded_null_rows":1,"groups":{"a":{"n_rows":2,"n_null_x":0,"n_null_y":1,"n":1,"x_min":-1,"x_max":-1,"y_min":5,"y_max":5,"x_sum":"-1","y_sum":"5","x_sum_sq":"1","y_sum_sq":"25","xy_sum":"-5"},"b":{"n_rows":2,"n_null_x":0,"n_null_y":0,"n":2,"x_min":1,"x_max":4,"y_min":-6,"y_max":2,"x_sum":"5","y_sum":"-4","x_sum_sq":"17","y_sum_sq":"40","xy_sum":"-22"}}}"""

  // ---- the verify sources: the rows the literals fold ----

  private def parquet(schema: StructType, rows: Seq[Any]*): String = {
    val dir = Files.createTempDirectory("graft_env_src_").toString + "/f"
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r: _*)): _*), schema)
      .coalesce(1).write.parquet(dir)
    dir
  }

  private lazy val docsSrc = parquet(
    new StructType().add("doc_id", LongType).add("source", StringType)
      .add("text", StringType),
    Seq(1L, "b", "red red blue"), Seq(2L, "a", "green red"),
    Seq(3L, null, "red gray"), Seq(4L, "a", "blue blue blue"))
  private lazy val doublesSrc = parquet(
    new StructType().add("source", StringType).add("value", DoubleType),
    Seq("b", 0.05), Seq("a", 0.5), Seq("a", 0.95), Seq(null, 0.25),
    Seq("b", -1.0), Seq("c", 2.5), Seq("a", null))
  private lazy val idsSrc = parquet(
    new StructType().add("source", StringType).add("doc_id", LongType)
      .add("value", DoubleType),
    Seq("b", 11L, 1.5), Seq("a", 12L, null), Seq("a", 13L, -0.5),
    Seq(null, 14L, 2.0), Seq("b", 15L, 4.25), Seq("c", 16L, 0.0))
  private lazy val longsSrc = parquet(
    new StructType().add("value", LongType),
    Seq(3L), Seq(null), Seq(-7L), Seq(12L))
  private lazy val groupedLongsSrc = parquet(
    new StructType().add("source", StringType).add("value", LongType),
    Seq("b", 4L), Seq("a", 1L), Seq(null, 9L), Seq("a", null),
    Seq("c", -2L), Seq("b", 6L))
  private lazy val stringsSrc = parquet(
    new StructType().add("source", StringType).add("value", StringType),
    Seq("b", "x"), Seq("a", "y"), Seq("a", "x"), Seq(null, "z"),
    Seq("b", null), Seq("c", "w"))
  private lazy val pairsSrc = parquet(
    new StructType().add("source", StringType)
      .add("x", LongType).add("y", LongType),
    Seq("b", 1L, 2L), Seq("a", 3L, null), Seq("a", -1L, 5L),
    Seq(null, 8L, 8L), Seq("b", 4L, -6L))

  // ---- worlds: one server per ladder rung, all six faces configured ----

  /** A state dir holding the given state files (none = nothing folded). */
  private def stateDir(files: (String, String)*): String = {
    val dir = Files.createTempDirectory("graft_env_state_")
    files.foreach { case (name, body) =>
      Files.write(dir.resolve(name), body.getBytes(UTF_8)) }
    dir.toString
  }

  private case class Dirs(fi: String, hist: String, sample: String,
      moments: String, distinct: String, comoments: String)

  private def flatDirs = Dirs(stateDir("mg_state.json" -> mgFlat),
    stateDir("hist_state.json" -> histFlat),
    stateDir("sample_state.json" -> sampleFlat),
    stateDir("moments_state.json" -> momentsFlat),
    stateDir("distinct_state.json" -> distinctFlat),
    stateDir("comoments_state.json" -> comomentsFlat))
  private def groupedDirs = Dirs(
    stateDir("mg_grouped_state.json" -> mgGrouped),
    stateDir("hist_grouped_state.json" -> histGrouped),
    stateDir("sample_grouped_state.json" -> sampleGrouped),
    stateDir("moments_grouped_state.json" -> momentsGrouped),
    stateDir("distinct_grouped_state.json" -> distinctGrouped),
    stateDir("comoments_grouped_state.json" -> comomentsGrouped))
  // sample and comoments have no windowed rung: their dirs stay empty
  private def windowedDirs = Dirs(stateDir("mg_window_state.json" -> mgWindow),
    stateDir("hist_window_state.json" -> histWindow), stateDir(),
    stateDir("moments_window_state.json" -> momentsWindow),
    stateDir("distinct_window_state.json" -> distinctWindow), stateDir())
  private def emptyDirs = Dirs(stateDir(), stateDir(), stateDir(),
    stateDir(), stateDir(), stateDir())

  private val started = scala.collection.mutable.ArrayBuffer.empty[RestServer]

  private def serve(d: Dirs, momentsSrc: => String = longsSrc,
      sources: Boolean = true, badCols: Boolean = false): RestServer = {
    def src(dir: => String) = if (sources) Some(dir) else None
    val bad = "no_such_col"
    val srv = new RestServer(store,
      frequentItemsStateDir = Some(d.fi), frequentItemsSourceDir = src(docsSrc),
      histogramStateDir = Some(d.hist), histogramSourceDir = src(doublesSrc),
      histogramGroupCol = "source",
      histogramValueCol = if (badCols) bad else "value",
      sampleStateDir = Some(d.sample), sampleSourceDir = src(idsSrc),
      sampleIdCol = if (badCols) bad else "doc_id",
      sampleValueCol = Some("value"),
      momentsStateDir = Some(d.moments), momentsSourceDir = src(momentsSrc),
      momentsValueCol = if (badCols) bad else "value",
      distinctStateDir = Some(d.distinct),
      distinctSourceDir = src(stringsSrc),
      distinctValueCol = if (badCols) bad else "value",
      comomentsStateDir = Some(d.comoments),
      comomentsSourceDir = src(pairsSrc),
      comomentsYCol = if (badCols) bad else "y").start()
    started += srv
    srv
  }

  private lazy val flat = serve(flatDirs)
  private lazy val grouped = serve(groupedDirs, momentsSrc = groupedLongsSrc)
  private lazy val windowed = serve(windowedDirs)
  private lazy val empty = serve(emptyDirs)
  private lazy val flatNoSource = serve(flatDirs, sources = false)
  private lazy val groupedNoSource = serve(groupedDirs, sources = false)
  private lazy val windowedNoSource = serve(windowedDirs, sources = false)
  private lazy val flatBadCols = serve(flatDirs, badCols = true)
  private lazy val groupedBadCols = serve(groupedDirs,
    momentsSrc = groupedLongsSrc, badCols = true)
  private lazy val unconfigured = {
    val srv = new RestServer(store).start(); started += srv; srv
  }
  // grouped histogram and frequent-items states whose group "a" is named
  // "r&d" — a group name only an encoded query can select
  private lazy val encodedGroups = serve(groupedDirs.copy(
    fi = stateDir("mg_grouped_state.json" ->
      mgGrouped.replace("\"a\":", "\"r&d\":")),
    hist = stateDir("hist_grouped_state.json" ->
      histGrouped.replace("\"a\":", "\"r&d\":"))),
    momentsSrc = groupedLongsSrc)

  override def afterAll(): Unit = {
    started.foreach(_.stop())
    super.afterAll()
  }

  // ---- 200 shapes ----

  pin("flat", flat, "frequent-items")(
    """{"grouped":false,"k":8,"checkpoint":"file:/fmt/ckpt","last_batch_id":0,"n":10,"state_entries":4,"counts":{"blue":4,"red":4,"gray":1,"green":1},"counts_are_mg_estimates":true}""")
  pin("flat", flat, "frequent-items/recount", """{"denominator": 3}""")(
    """{"denominator":3,"grouped":false,"n":10,"counts":{"blue":4,"red":4},"counts_are_exact":true}""")
  pin("flat", flat, "histogram")(
    """{"folded":true,"grouped":false,"lo":0.0,"hi":1.0,"n_bins":4,"value_resolution":0.25,"counts_are_exact":true,"checkpoint":"file:/fmt/ckpt","last_batch_id":0,"n":6,"underflow":1,"overflow":1,"out_of_range_mass_fraction":0.3333333333333333,"binning_warning":"0.3333 of the folded mass fell outside the configured [lo, hi) — past the 0.05 alert threshold; the quantile estimates clamp there. Re-derive the binning (HistogramSketch.fromSample) and re-fold with a fresh state dir","quantiles":{"0.5":0.625,"0.9":1.0,"0.99":1.0}}""")
  pin("flat", flat, "histogram?probs=0.25,0.75&bins=true")(
    """{"folded":true,"grouped":false,"lo":0.0,"hi":1.0,"n_bins":4,"value_resolution":0.25,"counts_are_exact":true,"checkpoint":"file:/fmt/ckpt","last_batch_id":0,"n":6,"underflow":1,"overflow":1,"out_of_range_mass_fraction":0.3333333333333333,"binning_warning":"0.3333 of the folded mass fell outside the configured [lo, hi) — past the 0.05 alert threshold; the quantile estimates clamp there. Re-derive the binning (HistogramSketch.fromSample) and re-fold with a fresh state dir","quantiles":{"0.25":0.3125,"0.75":0.9375},"bins":{"-1":1,"0":1,"1":1,"2":1,"3":1,"4":1}}""")
  pin("flat", flat, "histogram?verify=true")(
    """{"folded":true,"grouped":false,"lo":0.0,"hi":1.0,"n_bins":4,"value_resolution":0.25,"counts_are_exact":true,"checkpoint":"file:/fmt/ckpt","last_batch_id":0,"n":6,"underflow":1,"overflow":1,"out_of_range_mass_fraction":0.3333333333333333,"binning_warning":"0.3333 of the folded mass fell outside the configured [lo, hi) — past the 0.05 alert threshold; the quantile estimates clamp there. Re-derive the binning (HistogramSketch.fromSample) and re-fold with a fresh state dir","quantiles":{"0.5":0.625,"0.9":1.0,"0.99":1.0},"verify":{"matched":true,"recount_n":6,"state_n":6,"recount_excluded_null_values":1,"mismatched_bin_count":0,"counts_are_exact":true}}""")
  pin("flat", flat, "histogram/from-sample", "{}")(
    """{"lo":0.0,"hi":4.250000000000001,"n_bins":32,"value_resolution":0.13281250000000003,"coverage":0.99,"sample_values":4,"sample_last_batch_id":0}""")
  pin("flat", flat, "histogram/from-sample",
    """{"n_bins": 4, "coverage": 0.5}""")(
    """{"lo":0.0,"hi":4.250000000000001,"n_bins":4,"value_resolution":1.0625000000000002,"coverage":0.5,"sample_values":4,"sample_last_batch_id":0}""")
  pin("flat", flat, "sample")(
    """{"folded":true,"grouped":false,"k":4,"salt":"fmt","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"n_seen":6,"sample_size":4,"entries_are_exact":true,"entries":[{"id":16,"value":0.0},{"id":15,"value":4.25},{"id":14,"value":2.0},{"id":11,"value":1.5}]}""")
  pin("flat", flat, "sample?verify=true")(
    """{"folded":true,"grouped":false,"k":4,"salt":"fmt","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"n_seen":6,"sample_size":4,"entries_are_exact":true,"entries":[{"id":16,"value":0.0},{"id":15,"value":4.25},{"id":14,"value":2.0},{"id":11,"value":1.5}],"verify":{"matched":true,"ids_matched":true,"values_matched":true,"state_size":4,"recount_size":4,"mismatched_ids":[],"entries_are_exact":true}}""")
  pin("flat", flat, "moments")(
    """{"folded":true,"grouped":false,"value_col":"value","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"moments_are_exact":true,"n_rows":4,"n_null":1,"min":-7,"max":12,"sum":"8","sum_sq":"202","n":3,"mean":2.6666666666666665,"stddev_pop":7.760297817881877}""")
  pin("flat", flat, "moments?verify=true")(
    """{"folded":true,"grouped":false,"value_col":"value","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"moments_are_exact":true,"n_rows":4,"n_null":1,"min":-7,"max":12,"sum":"8","sum_sq":"202","n":3,"mean":2.6666666666666665,"stddev_pop":7.760297817881877,"verify":{"matched":true,"state_n_rows":4,"recount_n_rows":4,"moments_are_exact":true}}""")
  pin("flat", flat, "distinct")(
    """{"folded":true,"grouped":false,"lg_k":4,"value_col":"value","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"counters_are_exact":true,"n_rows":6,"n_null":1,"estimate":4.000000029802323}""")
  pin("flat", flat, "distinct?verify=true")(
    """{"folded":true,"grouped":false,"lg_k":4,"value_col":"value","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"counters_are_exact":true,"n_rows":6,"n_null":1,"estimate":4.000000029802323,"verify":{"matched":true,"counters_matched":true,"estimate_matched":true,"state_n_rows":6,"recount_n_rows":6}}""")
  pin("flat", flat, "comoments")(
    """{"folded":true,"grouped":false,"x_col":"x","y_col":"y","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"comoments_are_exact":true,"n_rows":5,"n_null_x":0,"n_null_y":1,"n":4,"x_min":-1,"x_max":8,"y_min":-6,"y_max":8,"x_sum":"12","y_sum":"9","x_sum_sq":"82","y_sum_sq":"129","xy_sum":"37","mean_x":3.0,"mean_y":2.25,"covariance_pop":2.5,"correlation":0.14138601415098048}""")
  pin("flat", flat, "comoments?verify=true")(
    """{"folded":true,"grouped":false,"x_col":"x","y_col":"y","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"comoments_are_exact":true,"n_rows":5,"n_null_x":0,"n_null_y":1,"n":4,"x_min":-1,"x_max":8,"y_min":-6,"y_max":8,"x_sum":"12","y_sum":"9","x_sum_sq":"82","y_sum_sq":"129","xy_sum":"37","mean_x":3.0,"mean_y":2.25,"covariance_pop":2.5,"correlation":0.14138601415098048,"verify":{"matched":true,"state_n_rows":5,"recount_n_rows":5,"comoments_are_exact":true}}""")
  pin("flat", flat, "profile")(
    """{"faces":{"frequent_items":{"folded":true,"grouped":false,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","n":10,"candidate_count":4,"k":8},"histogram":{"folded":true,"grouped":false,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","n":6,"lo":0.0,"hi":1.0,"n_bins":4,"underflow":1,"overflow":1},"sample":{"folded":true,"grouped":false,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","k":4,"n_seen":6,"entry_count":4},"moments":{"folded":true,"grouped":false,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","value_col":"value","n_rows":4,"n_null":1,"mean":2.6666666666666665,"stddev_pop":7.760297817881877},"distinct":{"folded":true,"grouped":false,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","value_col":"value","n_rows":6,"n_null":1,"estimate":4.000000029802323},"comoments":{"folded":true,"grouped":false,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","x_col":"x","y_col":"y","n_rows":5,"n":4,"covariance_pop":2.5,"correlation":0.14138601415098048}},"face_count":6}""")

  pin("grouped", grouped, "frequent-items")(
    """{"grouped":true,"k":8,"checkpoint":"file:/fmt/ckpt","last_batch_id":0,"n":8,"state_entries":5,"group_count":2,"excluded_null_rows":1,"groups":{"a":{"n":5,"counts":{"blue":3,"green":1,"red":1}},"b":{"n":3,"counts":{"red":2,"blue":1}}},"counts_are_mg_estimates":true}""")
  pin("grouped", grouped, "frequent-items/recount",
    """{"denominator": 3}""")(
    """{"denominator":3,"grouped":true,"n":8,"excluded_null_rows":1,"groups":{"a":{"blue":3},"b":{"red":2,"blue":1}},"counts_are_exact":true}""")
  pin("grouped", grouped, "histogram")(
    """{"folded":true,"grouped":true,"lo":0.0,"hi":1.0,"n_bins":4,"value_resolution":0.25,"counts_are_exact":true,"checkpoint":"file:/fmt/ckpt","last_batch_id":0,"n":5,"group_count":3,"out_of_range_mass_fraction":0.4,"binning_warning":"0.4000 of the folded mass fell outside the configured [lo, hi) — past the 0.05 alert threshold; the quantile estimates clamp there. Re-derive the binning (HistogramSketch.fromSample) and re-fold with a fresh state dir","excluded_null_rows":1,"groups":{"a":{"n":2,"underflow":0,"overflow":0,"quantiles":{"0.5":0.875,"0.9":0.975,"0.99":0.9975}},"b":{"n":2,"underflow":1,"overflow":0,"quantiles":{"0.5":0.125,"0.9":0.22499999999999998,"0.99":0.2475}},"c":{"n":1,"underflow":0,"overflow":1,"quantiles":{"0.5":1.0,"0.9":1.0,"0.99":1.0}}}}""")
  pin("grouped", grouped, "histogram?probs=0.5&bins=true")(
    """{"folded":true,"grouped":true,"lo":0.0,"hi":1.0,"n_bins":4,"value_resolution":0.25,"counts_are_exact":true,"checkpoint":"file:/fmt/ckpt","last_batch_id":0,"n":5,"group_count":3,"out_of_range_mass_fraction":0.4,"binning_warning":"0.4000 of the folded mass fell outside the configured [lo, hi) — past the 0.05 alert threshold; the quantile estimates clamp there. Re-derive the binning (HistogramSketch.fromSample) and re-fold with a fresh state dir","excluded_null_rows":1,"groups":{"a":{"n":2,"underflow":0,"overflow":0,"quantiles":{"0.5":0.875},"bins":{"2":1,"3":1}},"b":{"n":2,"underflow":1,"overflow":0,"quantiles":{"0.5":0.125},"bins":{"-1":1,"0":1}},"c":{"n":1,"underflow":0,"overflow":1,"quantiles":{"0.5":1.0},"bins":{"4":1}}}}""")
  pin("grouped", grouped, "histogram?verify=true")(
    """{"folded":true,"grouped":true,"lo":0.0,"hi":1.0,"n_bins":4,"value_resolution":0.25,"counts_are_exact":true,"checkpoint":"file:/fmt/ckpt","last_batch_id":0,"n":5,"group_count":3,"out_of_range_mass_fraction":0.4,"binning_warning":"0.4000 of the folded mass fell outside the configured [lo, hi) — past the 0.05 alert threshold; the quantile estimates clamp there. Re-derive the binning (HistogramSketch.fromSample) and re-fold with a fresh state dir","excluded_null_rows":1,"groups":{"a":{"n":2,"underflow":0,"overflow":0,"quantiles":{"0.5":0.875,"0.9":0.975,"0.99":0.9975}},"b":{"n":2,"underflow":1,"overflow":0,"quantiles":{"0.5":0.125,"0.9":0.22499999999999998,"0.99":0.2475}},"c":{"n":1,"underflow":0,"overflow":1,"quantiles":{"0.5":1.0,"0.9":1.0,"0.99":1.0}}},"verify":{"matched":true,"recount_n":5,"state_n":5,"recount_excluded_null_values":1,"mismatched_group_count":0,"mismatched_groups":[],"counts_are_exact":true}}""")
  pin("grouped", grouped, "histogram/from-sample",
    """{"group": "b", "n_bins": 4}""")(
    """{"lo":1.5,"hi":4.250000000000001,"n_bins":4,"value_resolution":0.6875000000000002,"coverage":0.99,"sample_values":2,"sample_last_batch_id":0}""")
  pin("grouped", grouped, "sample")(
    """{"folded":true,"grouped":true,"k":2,"salt":"fmt","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"n_seen":5,"group_count":3,"excluded_null_rows":1,"entries_are_exact":true,"groups":{"a":{"n_seen":2,"sample_size":2,"entries":[{"id":12},{"id":13,"value":-0.5}]},"b":{"n_seen":2,"sample_size":2,"entries":[{"id":15,"value":4.25},{"id":11,"value":1.5}]},"c":{"n_seen":1,"sample_size":1,"entries":[{"id":16,"value":0.0}]}}}""")
  pin("grouped", grouped, "sample?group=b")(
    """{"folded":true,"grouped":true,"k":2,"salt":"fmt","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"n_seen":5,"group_count":3,"excluded_null_rows":1,"entries_are_exact":true,"groups":{"b":{"n_seen":2,"sample_size":2,"entries":[{"id":15,"value":4.25},{"id":11,"value":1.5}]}}}""")
  pin("grouped", grouped, "sample?verify=true")(
    """{"folded":true,"grouped":true,"k":2,"salt":"fmt","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"n_seen":5,"group_count":3,"excluded_null_rows":1,"entries_are_exact":true,"groups":{"a":{"n_seen":2,"sample_size":2,"entries":[{"id":12},{"id":13,"value":-0.5}]},"b":{"n_seen":2,"sample_size":2,"entries":[{"id":15,"value":4.25},{"id":11,"value":1.5}]},"c":{"n_seen":1,"sample_size":1,"entries":[{"id":16,"value":0.0}]}},"verify":{"matched":true,"state_group_count":3,"recount_group_count":3,"mismatched_group_count":0,"mismatched_groups":[],"entries_are_exact":true}}""")
  pin("grouped", grouped, "sample?group=a&verify=true")(
    """{"folded":true,"grouped":true,"k":2,"salt":"fmt","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"n_seen":5,"group_count":3,"excluded_null_rows":1,"entries_are_exact":true,"groups":{"a":{"n_seen":2,"sample_size":2,"entries":[{"id":12},{"id":13,"value":-0.5}]}},"verify":{"matched":true,"state_group_count":3,"recount_group_count":3,"mismatched_group_count":0,"mismatched_groups":[],"entries_are_exact":true}}""")
  pin("grouped", grouped, "moments")(
    """{"folded":true,"grouped":true,"value_col":"value","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"group_count":3,"excluded_null_rows":1,"moments_are_exact":true,"groups":{"a":{"n_rows":2,"n_null":1,"min":1,"max":1,"sum":"1","sum_sq":"1","n":1,"mean":1.0,"stddev_pop":0.0},"b":{"n_rows":2,"n_null":0,"min":4,"max":6,"sum":"10","sum_sq":"52","n":2,"mean":5.0,"stddev_pop":1.0},"c":{"n_rows":1,"n_null":0,"min":-2,"max":-2,"sum":"-2","sum_sq":"4","n":1,"mean":-2.0,"stddev_pop":0.0}}}""")
  pin("grouped", grouped, "moments?group=b")(
    """{"folded":true,"grouped":true,"value_col":"value","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"group_count":3,"excluded_null_rows":1,"moments_are_exact":true,"groups":{"b":{"n_rows":2,"n_null":0,"min":4,"max":6,"sum":"10","sum_sq":"52","n":2,"mean":5.0,"stddev_pop":1.0}}}""")
  pin("grouped", grouped, "moments?verify=true")(
    """{"folded":true,"grouped":true,"value_col":"value","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"group_count":3,"excluded_null_rows":1,"moments_are_exact":true,"groups":{"a":{"n_rows":2,"n_null":1,"min":1,"max":1,"sum":"1","sum_sq":"1","n":1,"mean":1.0,"stddev_pop":0.0},"b":{"n_rows":2,"n_null":0,"min":4,"max":6,"sum":"10","sum_sq":"52","n":2,"mean":5.0,"stddev_pop":1.0},"c":{"n_rows":1,"n_null":0,"min":-2,"max":-2,"sum":"-2","sum_sq":"4","n":1,"mean":-2.0,"stddev_pop":0.0}},"verify":{"matched":true,"state_group_count":3,"recount_group_count":3,"mismatched_group_count":0,"mismatched_groups":[],"moments_are_exact":true}}""")
  pin("grouped", grouped, "distinct")(
    """{"folded":true,"grouped":true,"lg_k":4,"value_col":"value","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"group_count":3,"excluded_null_rows":1,"counters_are_exact":true,"groups":{"a":{"n_rows":2,"n_null":0,"estimate":2.000000004967054},"b":{"n_rows":2,"n_null":1,"estimate":1.0},"c":{"n_rows":1,"n_null":0,"estimate":1.0}}}""")
  pin("grouped", grouped, "distinct?group=a")(
    """{"folded":true,"grouped":true,"lg_k":4,"value_col":"value","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"group_count":3,"excluded_null_rows":1,"counters_are_exact":true,"groups":{"a":{"n_rows":2,"n_null":0,"estimate":2.000000004967054}}}""")
  pin("grouped", grouped, "distinct?verify=true")(
    """{"folded":true,"grouped":true,"lg_k":4,"value_col":"value","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"group_count":3,"excluded_null_rows":1,"counters_are_exact":true,"groups":{"a":{"n_rows":2,"n_null":0,"estimate":2.000000004967054},"b":{"n_rows":2,"n_null":1,"estimate":1.0},"c":{"n_rows":1,"n_null":0,"estimate":1.0}},"verify":{"matched":true,"state_group_count":3,"recount_group_count":3,"mismatched_group_count":0,"mismatched_groups":[]}}""")
  pin("grouped", grouped, "comoments")(
    """{"folded":true,"grouped":true,"x_col":"x","y_col":"y","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"group_count":2,"excluded_null_rows":1,"comoments_are_exact":true,"groups":{"a":{"n_rows":2,"n_null_x":0,"n_null_y":1,"n":1,"x_min":-1,"x_max":-1,"y_min":5,"y_max":5,"x_sum":"-1","y_sum":"5","x_sum_sq":"1","y_sum_sq":"25","xy_sum":"-5","mean_x":-1.0,"mean_y":5.0,"covariance_pop":0.0},"b":{"n_rows":2,"n_null_x":0,"n_null_y":0,"n":2,"x_min":1,"x_max":4,"y_min":-6,"y_max":2,"x_sum":"5","y_sum":"-4","x_sum_sq":"17","y_sum_sq":"40","xy_sum":"-22","mean_x":2.5,"mean_y":-2.0,"covariance_pop":-6.0,"correlation":-1.0}}}""")
  pin("grouped", grouped, "comoments?group=b")(
    """{"folded":true,"grouped":true,"x_col":"x","y_col":"y","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"group_count":2,"excluded_null_rows":1,"comoments_are_exact":true,"groups":{"b":{"n_rows":2,"n_null_x":0,"n_null_y":0,"n":2,"x_min":1,"x_max":4,"y_min":-6,"y_max":2,"x_sum":"5","y_sum":"-4","x_sum_sq":"17","y_sum_sq":"40","xy_sum":"-22","mean_x":2.5,"mean_y":-2.0,"covariance_pop":-6.0,"correlation":-1.0}}}""")
  pin("grouped", grouped, "comoments?group=a&verify=true")(
    """{"folded":true,"grouped":true,"x_col":"x","y_col":"y","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"group_count":2,"excluded_null_rows":1,"comoments_are_exact":true,"groups":{"a":{"n_rows":2,"n_null_x":0,"n_null_y":1,"n":1,"x_min":-1,"x_max":-1,"y_min":5,"y_max":5,"x_sum":"-1","y_sum":"5","x_sum_sq":"1","y_sum_sq":"25","xy_sum":"-5","mean_x":-1.0,"mean_y":5.0,"covariance_pop":0.0}},"verify":{"matched":true,"state_group_count":2,"recount_group_count":2,"mismatched_group_count":0,"mismatched_groups":[],"comoments_are_exact":true}}""")
  pin("grouped", grouped, "profile")(
    """{"faces":{"frequent_items":{"folded":true,"grouped":true,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","group_count":2,"total_entries":5,"excluded_null_rows":1,"k":8},"histogram":{"folded":true,"grouped":true,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","group_count":3,"total_cells":5,"excluded_null_rows":1},"sample":{"folded":true,"grouped":true,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","k":2,"group_count":3,"total_entries":5,"excluded_null_rows":1},"moments":{"folded":true,"grouped":true,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","value_col":"value","group_count":3,"excluded_null_rows":1},"distinct":{"folded":true,"grouped":true,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","value_col":"value","group_count":3,"excluded_null_rows":1},"comoments":{"folded":true,"grouped":true,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","x_col":"x","y_col":"y","group_count":2,"excluded_null_rows":1}},"face_count":6}""")

  pin("windowed", windowed, "frequent-items")(
    """{"grouped":false,"windowed":true,"k":3,"checkpoint":"file:/fmt/ckpt","last_batch_id":0,"window":3,"ring_depth":1,"n":10,"state_entries":2,"counts":{"blue":3,"red":3},"counts_are_mg_estimates":true}""")
  pin("windowed", windowed, "frequent-items?verify=true")(
    """{"grouped":false,"windowed":true,"k":3,"checkpoint":"file:/fmt/ckpt","last_batch_id":0,"window":3,"ring_depth":1,"n":10,"state_entries":2,"counts":{"blue":3,"red":3},"counts_are_mg_estimates":true}""")
  pin("windowed", windowed, "histogram")(
    """{"folded":true,"grouped":false,"windowed":true,"lo":0.0,"hi":1.0,"n_bins":4,"value_resolution":0.25,"counts_are_exact":true,"checkpoint":"file:/fmt/ckpt","last_batch_id":0,"window":3,"ring_depth":1,"n":6,"underflow":1,"overflow":1,"out_of_range_mass_fraction":0.3333333333333333,"binning_warning":"0.3333 of the folded mass fell outside the configured [lo, hi) — past the 0.05 alert threshold; the quantile estimates clamp there. Re-derive the binning (HistogramSketch.fromSample) and re-fold with a fresh state dir","quantiles":{"0.5":0.625,"0.9":1.0,"0.99":1.0}}""")
  pin("windowed", windowed, "histogram?probs=0.1,0.9&bins=true")(
    """{"folded":true,"grouped":false,"windowed":true,"lo":0.0,"hi":1.0,"n_bins":4,"value_resolution":0.25,"counts_are_exact":true,"checkpoint":"file:/fmt/ckpt","last_batch_id":0,"window":3,"ring_depth":1,"n":6,"underflow":1,"overflow":1,"out_of_range_mass_fraction":0.3333333333333333,"binning_warning":"0.3333 of the folded mass fell outside the configured [lo, hi) — past the 0.05 alert threshold; the quantile estimates clamp there. Re-derive the binning (HistogramSketch.fromSample) and re-fold with a fresh state dir","quantiles":{"0.1":0.125,"0.9":1.0},"bins":{"-1":1,"0":1,"1":1,"2":1,"3":1,"4":1}}""")
  pin("windowed", windowed, "moments")(
    """{"folded":true,"grouped":false,"windowed":true,"value_col":"value","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"window":3,"ring_depth":1,"moments_are_exact":true,"n_rows":4,"n_null":1,"min":-7,"max":12,"sum":"8","sum_sq":"202","n":3,"mean":2.6666666666666665,"stddev_pop":7.760297817881877}""")
  pin("windowed", windowed, "distinct")(
    """{"folded":true,"grouped":false,"windowed":true,"lg_k":4,"value_col":"value","checkpoint":"file:/fmt/ckpt","last_batch_id":0,"window":3,"ring_depth":1,"counters_are_exact":true,"n_rows":6,"n_null":1,"estimate":4.000000029802323}""")
  pin("windowed", windowed, "profile")(
    """{"faces":{"frequent_items":{"folded":true,"grouped":false,"windowed":true,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","window":3,"ring_depth":1,"n":10,"candidate_count":2,"k":3},"histogram":{"folded":true,"grouped":false,"windowed":true,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","window":3,"ring_depth":1,"n":6,"underflow":1,"overflow":1},"sample":{"folded":false},"moments":{"folded":true,"grouped":false,"windowed":true,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","value_col":"value","window":3,"ring_depth":1,"n_rows":4,"n_null":1,"mean":2.6666666666666665,"stddev_pop":7.760297817881877},"distinct":{"folded":true,"grouped":false,"windowed":true,"last_batch_id":0,"checkpoint":"file:/fmt/ckpt","value_col":"value","window":3,"ring_depth":1,"n_rows":6,"n_null":1,"estimate":4.000000029802323},"comoments":{"folded":false}},"face_count":6}""")

  pin("empty", empty, "frequent-items")(
    """{"grouped":false,"k":-1,"checkpoint":"","last_batch_id":-1,"n":0,"state_entries":0,"counts":{},"counts_are_mg_estimates":true}""")
  pin("empty", empty, "histogram")(
    """{"folded":false,"last_batch_id":-1,"n":0}""")
  pin("empty", empty, "sample")(
    """{"folded":false,"last_batch_id":-1,"n_seen":0}""")
  pin("empty", empty, "moments")(
    """{"folded":false,"last_batch_id":-1,"n_rows":0}""")
  pin("empty", empty, "distinct")(
    """{"folded":false,"last_batch_id":-1,"n_rows":0}""")
  pin("empty", empty, "comoments")(
    """{"folded":false,"last_batch_id":-1,"n_rows":0}""")
  pin("empty", empty, "profile")(
    """{"faces":{"frequent_items":{"folded":false},"histogram":{"folded":false},"sample":{"folded":false},"moments":{"folded":false},"distinct":{"folded":false},"comoments":{"folded":false}},"face_count":6}""")

  // ---- error shapes: status codes only ----

  for (face <- Seq("frequent-items", "histogram", "sample", "moments",
      "distinct", "comoments", "profile"))
    refuse("unconfigured", unconfigured, face)(404)
  refuse("unconfigured", unconfigured, "frequent-items/recount",
    """{"denominator": 3}""")(404)
  refuse("unconfigured", unconfigured, "histogram/from-sample", "{}")(404)

  refuse("flat", flat, "histogram?probs=0.5,x")(400)
  refuse("flat", flat, "histogram?probs=1.5")(400)
  refuse("windowed", windowed, "histogram?probs=NaN&verify=true")(400)
  refuse("flat", flat, "frequent-items/recount", "{}")(400)
  refuse("flat", flat, "frequent-items/recount", """{"denominator": 0}""")(400)
  refuse("flat", flat, "frequent-items/recount", """{"denominator": 500}""")(400)
  refuse("flat", flat, "histogram/from-sample", """{"n_bins": 0}""")(400)
  refuse("flat", flat, "histogram/from-sample", """{"coverage": 1.5}""")(400)
  refuse("grouped", grouped, "histogram/from-sample", "{}")(400)
  refuse("grouped", grouped, "histogram/from-sample",
    """{"group": "nope"}""")(404)
  refuse("empty", empty, "histogram/from-sample", "{}")(409)
  refuse("valueless", serve(flatDirs.copy(sample = stateDir(
    "sample_state.json" -> sampleFlat.replaceAll(",\"value\":[-0-9.]+", "")))),
    "histogram/from-sample", "{}")(422)

  for (face <- Seq("sample", "moments", "distinct", "comoments")) {
    refuse("flat", flat, s"$face?group=a")(404)
    refuse("grouped", grouped, s"$face?group=nope")(404)
    refuse("grouped", grouped, s"$face?group=nope&verify=true")(404)
    refuse("empty", empty, s"$face?group=a")(404)
  }
  for (face <- Seq("moments", "distinct"))
    refuse("windowed", windowed, s"$face?group=a")(404)

  for (face <- Seq("histogram", "moments", "distinct")) {
    refuse("windowed", windowed, s"$face?verify=true")(409)
    refuse("windowed without source", windowedNoSource,
      s"$face?verify=true")(409)
  }
  for (face <- Seq("histogram", "sample", "moments", "distinct",
      "comoments")) {
    refuse("flat without source", flatNoSource, s"$face?verify=true")(403)
    refuse("grouped without source", groupedNoSource,
      s"$face?verify=true")(403)
    refuse("empty", empty, s"$face?verify=true")(409)
    refuse("flat with a missing column", flatBadCols,
      s"$face?verify=true")(422)
    refuse("grouped with a missing column", groupedBadCols,
      s"$face?verify=true")(422)
  }
  refuse("flat without source", flatNoSource, "frequent-items/recount",
    """{"denominator": 3}""")(403)
  refuse("windowed without source", windowedNoSource,
    "frequent-items/recount", "{}")(403)
  refuse("windowed", windowed, "frequent-items/recount", "{}")(400)
  refuse("windowed", windowed, "frequent-items/recount",
    """{"denominator": 2}""")(409)
  refuse("empty", empty, "frequent-items/recount",
    """{"denominator": 2}""")(409)

  // ---- ?group on histogram and frequent-items: the family's rule ----

  /** `whole` with its `groups` object narrowed to the one group `g`. */
  private def narrowed(whole: JsonNode, g: String): JsonNode = {
    val n = whole.deepCopy[ObjectNode]()
    val one = mapper.createObjectNode()
    one.set[JsonNode](g, whole.get("groups").get(g))
    n.set[JsonNode]("groups", one)
    n
  }

  for ((path, g, srv) <- Seq(
      ("frequent-items", "b", () => grouped),
      ("histogram", "a", () => grouped),
      ("histogram?probs=0.5&bins=true", "c", () => grouped),
      ("frequent-items", "r&d", () => encodedGroups),
      ("histogram", "r&d", () => encodedGroups))) {
    val enc = java.net.URLEncoder.encode(g, UTF_8)
    val withGroup = s"$path${if (path.contains("?")) "&" else "?"}group=$enc"
    test(s"grouped GET $withGroup serves only that group") {
      val (s0, whole) = call(srv(), "GET", path, null)
      val (s1, one) = call(srv(), "GET", withGroup, null)
      assert(s0 == 200 && s1 == 200, one.toString)
      assert(one == narrowed(whole, g), one.toString)
    }
  }
  for (face <- Seq("frequent-items", "histogram")) {
    refuse("grouped", grouped, s"$face?group=nope")(404)
    refuse("flat", flat, s"$face?group=a")(404)
    refuse("windowed", windowed, s"$face?group=a")(404)
    refuse("empty", empty, s"$face?group=a")(404)
  }

  private def call(srv: RestServer, method: String, path: String,
      body: String): (Int, JsonNode) = {
    val b = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${srv.boundPort}/api/v1/admin/$path"))
    val req = (if (method == "GET") b.GET()
      else b.method(method,
        if (body == null) BodyPublishers.noBody()
        else BodyPublishers.ofString(body))).build()
    val res = client.send(req, BodyHandlers.ofString())
    (res.statusCode(), mapper.readTree(res.body()))
  }

  /** A 200 shape: the body must equal `expected` as a JSON tree. */
  private def pin(world: String, srv: => RestServer, path: String,
      body: String = null)(expected: String): Unit = {
    val method = if (body == null) "GET" else "POST"
    test(s"$world $method $path${Option(body).fold("")(" " + _)}") {
      val (s, got) = call(srv, method, path, body)
      assert(s == 200, got.toString)
      assert(got == mapper.readTree(expected), got.toString)
    }
  }

  /** An error shape: only the status code is pinned. */
  private def refuse(world: String, srv: => RestServer, path: String,
      body: String = null)(status: Int): Unit = {
    val method = if (body == null) "GET" else "POST"
    test(s"$world $method $path${Option(body).fold("")(" " + _)} -> $status") {
      val (s, got) = call(srv, method, path, body)
      assert(s == status, got.toString)
    }
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.streaming.BinningProcessSketch

/** One benchmark workload: a set-up step, then rounds of operations run
  * through [[Ops]]. `outputs` describes the last round's results for the
  * output checks; `fingerprint` must be identical for every round. */
trait Workload {
  /** Per-op figure name -> the op names whose summed time it is. */
  def metrics: Seq[(String, Seq[String])]
  /** The ops that fit a model (their summed time is `fit_s`). */
  def fitOps: Seq[String]
  def setup(): Unit
  /** Untimed preparation, once before the set-ups (default: none). */
  def prepare(): Unit = ()
  def round(ops: Ops): Unit
  def outputs(): Map[String, Any]
  def fingerprint(): String
  /** `timings` maps of every model fitted in the last round. */
  def fitTimings(): Seq[Map[String, Double]]
}

/** Thrown when an operation returns without error but with a result the
  * method forbids (a constrained fit that is not OPTIMAL). */
final class OpFailure(msg: String) extends RuntimeException(msg)

object Dump {
  val Specials: Seq[Double] = Seq(-999.0)

  def specials(c: BinningConfig): Seq[Any] = c.specialCodes match {
    case Some(SpecialList(vs)) => vs
    case _ => Nil
  }

  def binary(f: FittedOptimalBinning): Map[String, Any] = {
    val c = f.config
    Map(
      "name" -> c.name, "dtype" -> c.dtype, "status" -> f.status,
      "splits" -> f.splits,
      "cat_bins" -> Option(f.catBins).map(_.map(_.toSeq).toSeq),
      "cat_others" -> Option(f.catOthers).map(_.toSeq),
      "others_catch_all" -> f.othersCatchAll,
      "n_data_bins" -> f.nDataBins,
      "special_codes" -> specials(c),
      "n_event" -> f.table.nEvent, "n_nonevent" -> f.table.nNonevent,
      "woe" -> f.table.woe, "iv" -> f.table.iv,
      "trend" -> c.monotonicTrend, "min_bin_size" -> c.minBinSize,
      "max_n_bins" -> c.maxNBins, "max_pvalue" -> c.maxPvalue,
      "max_pvalue_policy" -> c.maxPvaluePolicy,
      "user_splits" -> c.userSplits.map(_.toSeq))
  }

  def requireOptimal(what: String, status: String): Unit =
    if (status != "OPTIMAL")
      throw new OpFailure(s"$what returned status $status, not OPTIMAL")
}

/** Column roles of the generated credit table (see README.md). */
final class CreditTable(df: DataFrame) {
  val numeric: Seq[String] =
    df.columns.toSeq.filter(c => c.startsWith("h") || c.startsWith("l"))
  val categorical: Seq[String] = df.columns.toSeq.filter(_.startsWith("c"))
  val variables: Seq[String] = numeric ++ categorical
  /** The special code is numeric: categorical variables get a config
    * without it (a numeric code on a string column fails the ANSI cast in
    * the categorical row-class expression). */
  def overrides(config: BinningConfig): Map[String, BinningConfig] =
    categorical.map(_ -> config.copy(specialCodes = None)).toMap
}

/** `batch_fit`: a BinningProcess fit and a set of single-variable
  * constrained fits on the generated credit table. */
final class BatchFit(spark: SparkSession, dataDir: String) extends Workload {
  private var train: DataFrame = _
  private var vars: CreditTable = _
  private val config = BinningConfig(specialCodes = Some(SpecialList(Dump.Specials)))
  /** Fine prebinning: the reference's large-scale tutorial setting. */
  private val fine = config.copy(maxNPrebins = 100, minPrebinSize = 0.001,
                                 minBinSize = Some(0.02))
  /** Pinned prebins for the exhaustive-enumeration check (h0 ~ N(0,1)). */
  val pinnedSplits: Array[Double] =
    Array(-1.5, -1.0, -0.6, -0.3, 0.0, 0.3, 0.6, 1.0, 1.5)

  private var process: FittedBinningProcess = _
  private val binaryFits = scala.collection.mutable.LinkedHashMap
    .empty[String, FittedOptimalBinning]
  private var multiclass: FittedMulticlassBinning = _
  private var continuous: FittedContinuousBinning = _
  private var twoD: Fitted2DBinning = _
  private var pw: PWBinning.FittedPW = _

  val metrics: Seq[(String, Seq[String])] = Seq(
    "process_fit_s" -> Seq("process_fit"),
    "constrained_fit_s" -> Seq("fit_peak", "fit_valley", "fit_auto",
      "fit_pvalue", "fit_pinned", "fit_multiclass", "fit_continuous",
      "fit_2d", "fit_pw"))
  def fitOps: Seq[String] = metrics.flatMap(_._2)

  def setup(): Unit = {
    train = spark.read.parquet(s"$dataDir/train.parquet")
    train.write.format("noop").mode("overwrite").save()
    vars = new CreditTable(train)
  }

  private def binaryFit(ops: Ops, op: String, x: String,
                        c: BinningConfig): Unit =
    ops.run(op) {
      val f = OptimalBinning.fit(train, x, "target", c.copy(name = x))
      Dump.requireOptimal(op, f.status)
      binaryFits(op) = f
    }

  def round(ops: Ops): Unit = {
    ops.run("process_fit") {
      process = BinningProcess.fit(train, vars.variables, "target",
                                   config = config,
                                   varOverrides = vars.overrides(config))
    }
    binaryFit(ops, "fit_peak", "h2", fine.copy(monotonicTrend = Some("peak")))
    binaryFit(ops, "fit_valley", "h3",
              fine.copy(monotonicTrend = Some("valley")))
    binaryFit(ops, "fit_auto", "h1", fine.copy(monotonicTrend = Some("auto")))
    binaryFit(ops, "fit_pvalue", "h0",
              config.copy(maxPvalue = Some(0.05),
                          monotonicTrend = Some("ascending")))
    binaryFit(ops, "fit_pinned", "h0",
              config.copy(userSplits = Some(pinnedSplits),
                          monotonicTrend = Some("ascending"),
                          maxNBins = Some(4), minBinSize = Some(0.1)))
    ops.run("fit_multiclass") {
      multiclass = MulticlassOptimalBinning.fit(train, "h4", "y3",
        BinningConfig(name = "h4"))
      Dump.requireOptimal("fit_multiclass", multiclass.status)
    }
    ops.run("fit_continuous") {
      continuous = ContinuousOptimalBinning.fit(train, "h7", "yc",
        BinningConfig(name = "h7"))
      Dump.requireOptimal("fit_continuous", continuous.status)
    }
    ops.run("fit_2d") {
      twoD = OptimalBinning2D.fit(train, "h0", "h2", "target",
        OptimalBinning2D.Config2D(nameX = "h0", nameY = "h2"))
      Dump.requireOptimal("fit_2d", twoD.status)
    }
    ops.run("fit_pw") {
      pw = PWBinning.fit(train, "h0", "target", BinningConfig(name = "h0"))
      Dump.requireOptimal("fit_pw", pw.binning.status)
    }
  }

  def fitTimings(): Seq[Map[String, Double]] =
    process.fits.values.map(_.timings).toSeq ++
      binaryFits.values.map(_.timings) ++
      Seq(multiclass.timings, continuous.timings, twoD.timings, pw.timings)

  def outputs(): Map[String, Any] = Map(
    "process" -> vars.variables.map(v => Dump.binary(process.fits(v))),
    "binary_fits" -> binaryFits.map { case (k, f) => k -> Dump.binary(f) },
    "multiclass" -> Map(
      "status" -> multiclass.status, "splits" -> multiclass.splits,
      "classes" -> multiclass.classes,
      "n_event" -> multiclass.nEvent.map(_.toSeq).toSeq),
    "continuous" -> Map(
      "status" -> continuous.status, "splits" -> continuous.splits,
      "n_records" -> continuous.table.nRecords,
      "sums" -> continuous.table.sums),
    "two_d" -> Map(
      "status" -> twoD.status, "splits_x" -> twoD.splitsX,
      "splits_y" -> twoD.splitsY,
      "rects" -> twoD.rects.toSeq.map(r => Map(
        "x1" -> r.x1, "x2" -> r.x2, "y1" -> r.y1, "y2" -> r.y2,
        "nonevent" -> r.nonevent, "event" -> r.event))),
    "pw" -> Map("status" -> pw.binning.status,
                "binning" -> Dump.binary(pw.binning)))

  def fingerprint(): String = Json(Seq(
    vars.variables.map(v => (process.fits(v).splits.toSeq,
                             process.fits(v).table.iv)),
    binaryFits.values.map(f => (f.splits.toSeq, f.table.iv)).toSeq,
    multiclass.splits.toSeq, continuous.splits.toSeq,
    twoD.rects.map(_.iv).toSeq, pw.splits.toSeq))
}

object ScoreMonitor {
  /** Variables of the probe scorecard: a numeric driver and a categorical
    * variable that gets a level unseen in training in the drifted batch. */
  val ProbeVariables: Seq[String] = Seq("h0", "c50_1")

  def scorecardDump(sc: FittedScorecard): Map[String, Any] = Map(
    "selected" -> sc.selected.toSeq,
    "base_intercept" -> sc.baseIntercept,
    "variables" -> sc.selected.toSeq.map { v =>
      val f = sc.process.fits(v)
      val points = new Array[Double](f.table.nRecords.length)
      sc.pointsTable.filter(_.variable == v)
        .foreach(r => points(r.binId) = r.points)
      Dump.binary(f) ++ Map("points" -> points.toSeq)
    })
}

/** `score_monitor`: the deployment loop. Set-up loads both cohorts and
  * sketches the training cohort; each round fits the scorecard and its
  * monitor on the training cohort, scores a drifted production batch to
  * parquet, runs the PSI and significance reports, and refreshes the
  * sketch with the batch.
  *
  * Each round also runs `probe`: the same monitoring and sketch refresh on
  * a fixed cohort that does not depend on the seed, whose outputs are
  * checked for two properties the program misses on that cohort (no
  * unscored row in a score bin; sketch splits within eps of their
  * quantile). It is kept out of every timing figure. */
final class ScoreMonitor(spark: SparkSession, dataDir: String,
                         outDir: String) extends Workload {
  private var train: DataFrame = _
  private var batch: DataFrame = _
  private var vars: CreditTable = _
  private val config = BinningConfig(specialCodes = Some(SpecialList(Dump.Specials)))
  private val eps = 1e-4
  private var scorecard: FittedScorecard = _
  private var monitor: ScorecardMonitoring = _
  private var baseSketch: BinningProcessSketch = _

  private var psiRows: Seq[Map[String, Any]] = Nil
  private var significance: Seq[Map[String, Any]] = Nil
  private var sketch: BinningProcessSketch = _
  private var sketchFits: Map[String, FittedOptimalBinning] = Map.empty
  val scoresPath = s"$outDir/scores.parquet"

  private var probeTrain: DataFrame = _
  private var probeBatch: DataFrame = _
  private var probeScorecard: FittedScorecard = _
  private var probeNumeric: Seq[String] = Nil
  private var probeBaseSketch: BinningProcessSketch = _
  private var probeOut: Map[String, Any] = Map.empty

  val metrics: Seq[(String, Seq[String])] = Seq(
    "scorecard_fit_s" -> Seq("scorecard_fit"),
    "score_s" -> Seq("score"),
    "psi_s" -> Seq("psi"),
    "sketch_refresh_s" -> Seq("sketch_refresh"))
  val fitOps: Seq[String] = Seq("scorecard_fit")

  def setup(): Unit = {
    train = spark.read.parquet(s"$dataDir/train.parquet")
    batch = spark.read.parquet(s"$dataDir/batch.parquet")
    train.write.format("noop").mode("overwrite").save()
    batch.write.format("noop").mode("overwrite").save()
    vars = new CreditTable(train)
    baseSketch = newSketch()
    baseSketch.add(train, "target")
  }

  /** The probe's fixed cohort, scorecard and base sketch: built once and
    * kept out of the timed set-up, since the probe is kept out of every
    * timing figure. */
  override def prepare(): Unit = {
    probeTrain = spark.read.parquet(s"$dataDir/probe/train.parquet")
    probeBatch = spark.read.parquet(s"$dataDir/probe/batch.parquet")
    probeScorecard = Scorecard.fit(probeTrain, ScoreMonitor.ProbeVariables,
                                   "target")
    probeNumeric = new CreditTable(probeTrain).numeric
    probeBaseSketch = new BinningProcessSketch(probeNumeric, config, eps)
    probeBaseSketch.add(probeTrain, "target")
  }

  private def newSketch() =
    new BinningProcessSketch(vars.numeric, config, eps, vars.categorical)

  def round(ops: Ops): Unit = {
    ops.run("scorecard_fit") {
      scorecard = Scorecard.fit(train, vars.variables, "target",
        binningConfig = config, varOverrides = vars.overrides(config),
        scaling = Scorecard.ScalingConfig(method = Some("pdo_odds")))
    }
    ops.run("score") {
      scorecard.score(batch, Seq("id")).write.mode("overwrite")
        .parquet(scoresPath)
    }
    ops.run("psi") {
      monitor = new ScorecardMonitoring(scorecard, psiNBins = 20)
      psiRows = monitor.psiTable(train, batch).collect().toSeq.map { r =>
        Map("bin" -> r.getAs[Any]("bin"), "count_e" -> r.getAs[Double]("count_e"),
            "count_a" -> r.getAs[Double]("count_a"),
            "psi" -> r.getAs[Double]("psi"))
      }
      significance = monitor.significanceTests(train, batch, "target")
        .toSeq.map { case (b, ee, ea, z, p) =>
          Map("bin" -> b, "er_e" -> ee, "er_a" -> ea, "z" -> z, "p" -> p)
        }
    }
    ops.run("sketch_refresh") {
      sketch = newSketch()
      sketch.merge(baseSketch)
      ops.timedLayer("streaming.sketch_add_s") { sketch.add(batch, "target") }
      ops.timedLayer("streaming.sketch_solve_s") {
        sketchFits = sketch.solveAll()
      }
    }
    ops.runUntimed("probe") {
      val rows = new ScorecardMonitoring(probeScorecard, psiNBins = 20)
        .psiTable(probeTrain, probeBatch).collect()
      val scores = probeScorecard.score(probeBatch).collect()
        .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
      val sk = new BinningProcessSketch(probeNumeric, config, eps)
      sk.merge(probeBaseSketch)
      sk.add(probeBatch, "target")
      val fits = sk.solveAll()
      probeOut = Map(
        "psi_rows" -> rows.toSeq.map(r => Map(
          "bin" -> r.getAs[Any]("bin"), "count_e" -> r.getAs[Double]("count_e"),
          "count_a" -> r.getAs[Double]("count_a"))),
        "scored" -> scores.count(x => !x.isNaN),
        "unscored" -> scores.count(_.isNaN),
        "sketch" -> probeNumeric.map(v => Map(
          "name" -> v, "n" -> sk.sketch(v).sketch.n,
          "status" -> fits(v).status, "splits" -> fits(v).splits)))
    }
  }

  def fitTimings(): Seq[Map[String, Double]] =
    scorecard.process.fits.values.map(_.timings).toSeq ++
      sketchFits.values.map(_.timings)

  /** Computed after the timed rounds: it reuses the monitor's score bins. */
  def outputs(): Map[String, Any] = Map(
    "scorecard" -> ScoreMonitor.scorecardDump(scorecard),
    "scores_path" -> scoresPath,
    "psi_splits" -> monitor.fittedScoreSplits.map(_.toSeq),
    "psi_rows" -> psiRows,
    "psi_total" -> psiRows.map(_("psi").asInstanceOf[Double]).sum,
    "psi_self" -> monitor.psiTotal(train, train),
    "significance" -> significance,
    "sketch" -> Map(
      "eps" -> eps,
      "max_n_prebins" -> config.maxNPrebins,
      "numeric" -> vars.numeric.map { v =>
        val s = sketch.sketch(v).sketch
        Map("name" -> v, "n" -> s.n, "n_event" -> s.nEvent,
            "missing_e" -> s.countMissingE, "missing_ne" -> s.countMissingNe,
            "special_e" -> s.countSpecialE, "special_ne" -> s.countSpecialNe,
            "fit" -> Dump.binary(sketchFits(v)))
      },
      "categorical" -> vars.categorical.map { v =>
        val f = sketchFits(v)
        Map("name" -> v, "t_records" -> f.table.tRecords,
            "t_event" -> f.table.tEvent, "status" -> f.status)
      }),
    "probe" -> (probeOut + ("eps" -> eps) +
                ("max_n_prebins" -> config.maxNPrebins)))

  def fingerprint(): String = Json(Seq(
    scorecard.pointsTable.map(_.points).toSeq, psiRows.map(_("psi")), significance.map(_("p")),
    vars.variables.map(v => (sketchFits(v).splits.toSeq,
                             sketchFits(v).table.iv)), probeOut))
}

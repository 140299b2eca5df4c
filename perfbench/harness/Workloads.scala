package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.MaxQuant
import graft.ml.Ward
import graft.ops.{Design, Filters, Normalize, Quantiles, Reshape}
import graft.pipeline.TrainingData
import graft.sim.Similarity
import graft.stats.{Moments, QValues, StatTests, Summaries, Volcano}
import graft.text.Dedup

/** What one workflow execution produced. `digest` must be identical
  * across executions; `check` verifies the outputs against the planted
  * truth (run after timing) and returns the failures; `cleanup` runs
  * the program's cleanup handles. `counters` are per-execution counts
  * the traced record reports (rounds, bytes written). */
final case class Outcome(
    digest: String,
    check: () => Seq[String],
    cleanup: () => Unit,
    counters: Map[String, Double] = Map.empty)

trait Workload {
  def inputRows: Long
  def inputBytes: Long
  /** Read the inputs' metadata and register them in the session. */
  def register(spark: SparkSession): Unit
  def execute(spark: SparkSession, t: Tracer): Outcome
  /** Extra output of the first execution for an outside verifier. */
  def dump(spark: SparkSession, dir: File): Unit = ()
}

object Workload {
  def apply(name: String, data: File, work: File): Workload = name match {
    case "s1_timecourse" => new S1Timecourse(data, work)
    case "keyed_stats" => new KeyedStats(data)
    case "curation" => new Curation(data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def truth(data: File): JsonNode = new ObjectMapper().readTree(new File(data, "truth.json"))

  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(bytes).sum else f.length

  /** Canonical text of a value: doubles print their shortest exact repr,
    * so equal text means equal bits. */
  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Double.toString(d)
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }

  def lines(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map(cell).mkString("\t")).sorted

  def outputDigest(parts: (String, Seq[String])*): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { case (name, ls) =>
      md.update(s"## $name\n".getBytes(StandardCharsets.UTF_8))
      ls.foreach(l => md.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Order-independent digest of a large frame in one aggregate job:
    * XOR of the rows' xxhash64 plus the row count. */
  def frameDigest(df: DataFrame): String = {
    val r = df.agg(bit_xor(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)),
      count(lit(1))).head()
    s"${r.get(0)}/${r.getLong(1)}"
  }

  def expect(ok: Boolean, msg: => String): Seq[String] = if (ok) Nil else Seq(msg)
}

import Workload._

/** File S-1: the phospho-LFQ timecourse on a MaxQuant sites table. */
final class S1Timecourse(data: File, work: File) extends Workload {
  private val sites = new File(data, "sites.txt").getPath
  private val designPath = new File(data, "design.csv").getPath
  private val out = new File(work, "perseus")
  private val truthJson = truth(data)
  private val planted: Map[String, String] =
    truthJson.get("planted").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  private val filtered: Set[Long] = truthJson.get("removed_by_filters").elements().asScala
    .map(_.asLong).toSet
  private var design: DataFrame = _

  val inputRows: Long = truthJson.get("intensity_cells").asLong
  val inputBytes: Long = bytes(new File(sites)) + bytes(new File(designPath))

  def register(spark: SparkSession): Unit =
    design = spark.read.option("header", "true")
      .schema("Label STRING, Group STRING, Timepoint INT, Replicate INT, Technical INT")
      .csv(designPath)

  def execute(spark: SparkSession, t: Tracer): Outcome = {
    val raw = t("io", "MaxQuant.readMaxQuant") { MaxQuant.readMaxQuant(spark, sites) }
    val noRev = t("ops", "Filters.removeReverse", raw) { Filters.removeReverse(raw) }
    val noCon = t("ops", "Filters.removeContaminants", noRev) { Filters.removeContaminants(noRev) }
    val loc = t("ops", "Filters.filterLocalizationProbability", noCon) {
      Filters.filterLocalizationProbability(noCon)
    }
    val expanded = t("ops", "Reshape.expandSideTable", loc) { Reshape.expandSideTable(loc) }
    val samples = expanded.columns.filter(_.startsWith("Intensity ")).toSeq
    val long = t("ops", "Reshape.unpivot", expanded) {
      Reshape.unpivot(expanded.select((col("id") +: samples.map(col)): _*), Seq("id"), samples)
    }
    // The workflow holds two frames, as the notebook holds its pandas
    // frames: the log2 long table and the collapsed replicate matrix
    // (localCheckpoint: materialized, lineage cut). Without them every
    // later action re-parses the TSV and re-plans the whole chain;
    // at 120 sites QValues.qvalues then took 4 s to build and 17 s to
    // materialize, and Pca.fit (not called here) planned for minutes.
    val logged = t("ops", "Reshape.transformExpressionColumns", long) {
      Reshape.transformExpressionColumns(long, Seq("value")).localCheckpoint()
    }
    val centered = t("ops", "Normalize.subtractColumnMedian", logged) {
      Normalize.subtractColumnMedian(logged)
    }
    val designed = t("ops", "Design.buildIndexFromDesign", centered) {
      Design.buildIndexFromDesign(centered, design, removePrefixes = Seq("Intensity"))
    }
    val valid = t("ops", "Filters.minimumValidValuesInAnyGroup", designed) {
      Filters.minimumValidValuesInAnyGroup(
        designed.filter(col("Group").isNotNull), Seq("id"), Seq("Group"), "value", 12)
    }
    val collapsed = t("stats", "Summaries.collapseTechnicalReplicates", valid) {
      Summaries.collapseTechnicalReplicates(
        valid, Seq("id"), Seq("Group", "Timepoint", "Replicate"), "value").localCheckpoint()
    }
    val volcano = t("stats", "Volcano.twoSample", collapsed) {
      Volcano.twoSample(collapsed, Seq("id"), "Group", "value", control = "Control",
        comparison = "PGE2", minValidN = 3, s0 = 1e-5, minRatio = 1.0, minP = 0.05)
    }
    val withQ = t("stats", "QValues.qvalues", volcano) { QValues.qvalues(volcano, "p") }
    val volcanoTable = withQ.select(col("id"), col("n_a"), col("n_b"), col("ratio"), col("p"),
      col("q"), col("significant"))
    val volcanoRows = volcanoTable.collect().toSeq

    // Ward over the z-scored PGE2 replicate profiles of the top sites:
    // sites cluster by the shape of their time response
    val top = volcanoRows.filter(_.getAs[Boolean]("significant"))
      .sortBy(r => (r.getAs[Double]("p"), r.getAs[String]("id"))).take(300)
      .map(_.getAs[String]("id"))
    val profiles = collapsed.filter(col("Group") === "PGE2" && col("id").isin(top: _*))
      .withColumn("feature", concat_ws("_", col("Timepoint"), col("Replicate")))
    val z = t("ops", "Normalize.zscore", collapsed) { Normalize.zscore(profiles, Seq("id")) }
    val assignRows = t("ml", "Ward.clusterSamples", z) {
      Ward.clusterSamples(spark, z, "feature", "id", "zscore", 3).collect().toSeq
    }
    t.rows(assignRows.size)

    t("io", "MaxQuant.writePerseus", withQ) {
      MaxQuant.writePerseus(volcanoTable, out.getPath, singleFile = true)
    }
    val written = bytes(out)
    t.rows(volcanoRows.size)

    val digest = outputDigest("volcano" -> lines(volcanoRows), "clusters" -> lines(assignRows))
    Outcome(digest,
      () => check(volcanoRows, assignRows),
      () => (),
      Map("io.write_mb" -> written / 1048576.0))
  }

  private def check(volcano: Seq[Row], assign: Seq[Row]): Seq[String] = {
    val sig = volcano.filter(_.getAs[Boolean]("significant")).map(_.getAs[String]("id")).toSet
    val ids = volcano.map(_.getAs[String]("id").split("___")(0).toLong).toSet
    val clusters = assign.groupBy(_.getAs[Int]("cluster")).values
      .map(_.map(r => planted.getOrElse(r.getAs[String]("id"), "?")).toSet).toSeq
    val writtenRows = Option(out.listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("part-"))
      .map(f => Files.readAllLines(f.toPath).size).sum
    expect(sig == planted.keySet,
      s"significant sites ${sig.size} != planted ${planted.size} " +
        s"(missed ${(planted.keySet -- sig).take(5)}, extra ${(sig -- planted.keySet).take(5)})") ++
      expect((ids intersect filtered).isEmpty, "filtered sites reached the volcano") ++
      expect(clusters.size == 3 && clusters.forall(_.size == 1) && clusters.flatten.toSet.size == 3,
        s"Ward clusters do not recover the planted patterns: $clusters") ++
      expect(writtenRows == volcano.size, s"Perseus export has $writtenRows rows, want ${volcano.size}")
  }
}

/** S-2 / Statistical-notebook per-feature statistics on long-form data:
  * the t-test, ANOVA and quantile families. (Median normalization,
  * volcano and q-values run on s1_timecourse.) */
final class KeyedStats(data: File) extends Workload {
  private val path = new File(data, "obs").getPath
  private val truthJson = truth(data)
  private var obs: DataFrame = _

  val inputRows: Long = truthJson.get("observations").asLong
  val inputBytes: Long = bytes(new File(path))

  def register(spark: SparkSession): Unit = obs = spark.read.parquet(path)

  private def tTests(o: DataFrame): (DataFrame, DataFrame) = (
    StatTests.tTestInd(o, Seq("feature"), "grp", "value", "A", "B",
      Moments.decKeyed, Moments.decProdKeyed),
    StatTests.tTestWelch(o, Seq("feature"), "grp", "value", "A", "C",
      Moments.decKeyed, Moments.decProdKeyed))

  def execute(spark: SparkSession, t: Tracer): Outcome = {
    val ind = t("stats", "StatTests.tTestInd", obs) { tTests(obs)._1 }
    val welch = t("stats", "StatTests.tTestWelch", obs) { tTests(obs)._2 }
    val anova = t("stats", "StatTests.anova1Way", obs) {
      StatTests.anova1Way(obs, Seq("feature"), "grp", "value")
    }
    val five = t("ops", "Quantiles.fiveNumberByGroup", obs) {
      Quantiles.fiveNumberByGroup(obs, Seq("feature"), "value")
    }
    val desc = t("stats", "Summaries.describe", obs) {
      Summaries.describe(obs, "grp", "value", Seq("feature", "sample"))
    }
    val parts = Seq("ttest_ind" -> ind, "ttest_welch" -> welch, "anova" -> anova,
      "five_number" -> five)
      .map { case (n, df) => n -> Seq(frameDigest(df)) }
    val descRows = desc.collect().toSeq
    val digest = outputDigest((parts :+ ("describe" -> lines(descRows))): _*)
    val total = descRows.map(_.getAs[Long]("n")).sum
    Outcome(digest,
      () => expect(total == inputRows, s"describe counts $total observations, want $inputRows"),
      () => ())
  }

  /** The t-test and ANOVA outputs as exact double bits, plus the DuckDB
    * replay of the same statistics built from the Moments.Sql mirrors. */
  override def dump(spark: SparkSession, dir: File): Unit = {
    val (ind, welch) = tTests(obs)
    val anova = StatTests.anova1Way(obs, Seq("feature"), "grp", "value")
    def write(name: String, df: DataFrame, cols: Seq[String]): Unit = {
      val rows = df.filter(col(cols(1)) >= 2 && col(cols(2)) >= 2)
        .select(cols.map(col): _*).collect()
      val text = rows.map(_.toSeq.map {
        case d: Double => java.lang.Long.toString(java.lang.Double.doubleToRawLongBits(d))
        case x => String.valueOf(x)
      }.mkString("\t")).sorted.mkString("", "\n", "\n")
      Files.writeString(new File(dir, s"$name.tsv").toPath, text)
    }
    val tCols = Seq("feature", "n_a", "n_b", "mean_a", "mean_b", "t", "df")
    write("ttest_ind", ind, tCols)
    write("ttest_welch", welch, tCols)
    write("anova", anova, Seq("feature", "n", "k", "f", "df1", "df2"))
    Files.writeString(new File(dir, "oracle.sql").toPath, OracleSql.all)
  }
}

/** DuckDB replays of the keyed t-tests and ANOVA, written with the
  * Moments.Sql mirrors so the decimal images match the Spark side. */
object OracleSql {
  import graft.stats.Moments.{Sql => S}

  private def tTestSql(name: String, b: String, welch: Boolean): String = {
    val na = "CAST(n_a AS DOUBLE)"
    val nb = "CAST(n_b AS DOUBLE)"
    def when(g: String, e: String) = s"CASE WHEN grp = '$g' THEN $e END"
    val ma = s"(${S.meanOf("s1a", "n_a")})"
    val mb = s"(${S.meanOf("s1b", "n_b")})"
    val va = s"(${S.varOf("s1a", "s2a", "n_a")})"
    val vb = s"(${S.varOf("s1b", "s2b", "n_b")})"
    val (t, df) =
      if (welch) {
        val vna = s"($va / $na)"
        val vnb = s"($vb / $nb)"
        (s"($ma - $mb) / SQRT($vna + $vnb)",
          s"(($vna + $vnb) * ($vna + $vnb)) / (($vna * $vna) / ($na - 1.0) + ($vnb * $vnb) / ($nb - 1.0))")
      } else {
        val dfree = s"($na + $nb - 2.0)"
        (s"($ma - $mb) / SQRT(((($na - 1.0) * $va + ($nb - 1.0) * $vb) / $dfree) * (1.0 / $na + 1.0 / $nb))",
          dfree)
      }
    s"""-- $name
      |WITH g AS (
      |  SELECT feature,
      |    CAST(SUM(${when("A", S.decKeyed("value"))}) AS DOUBLE) AS s1a,
      |    CAST(SUM(${when("A", S.decProdKeyed("value", "value"))}) AS DOUBLE) AS s2a,
      |    CAST(COUNT(${when("A", "value")}) AS BIGINT) AS n_a,
      |    CAST(SUM(${when(b, S.decKeyed("value"))}) AS DOUBLE) AS s1b,
      |    CAST(SUM(${when(b, S.decProdKeyed("value", "value"))}) AS DOUBLE) AS s2b,
      |    CAST(COUNT(${when(b, "value")}) AS BIGINT) AS n_b
      |  FROM obs WHERE grp = 'A' OR grp = '$b' GROUP BY feature)
      |SELECT feature, n_a, n_b, $ma AS mean_a, $mb AS mean_b, $t AS t, $df AS df
      |FROM g WHERE n_a >= 2 AND n_b >= 2;
      |""".stripMargin
  }

  private val anovaSql: String =
    s"""-- anova
      |WITH pg AS (
      |  SELECT feature, grp, ${S.sumExact("value")} AS s1, ${S.sumSqExact("value")} AS s2,
      |    COUNT(value) AS cnt
      |  FROM obs WHERE value IS NOT NULL GROUP BY feature, grp),
      |g AS (
      |  SELECT feature, SUM(s1) AS ts1, SUM(s2) AS ts2, CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS k, SUM(s2 - (s1 * s1) / CAST(cnt AS DOUBLE)) AS ssw
      |  FROM pg GROUP BY feature)
      |SELECT feature, n, k,
      |  ((ts2 - (ts1 * ts1) / CAST(n AS DOUBLE)) - ssw) / (CAST(k AS DOUBLE) - 1.0)
      |    / (ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS f,
      |  CAST(k AS DOUBLE) - 1.0 AS df1, CAST(n AS DOUBLE) - CAST(k AS DOUBLE) AS df2
      |FROM g WHERE n >= 2 AND k >= 2;
      |""".stripMargin

  def all: String =
    tTestSql("ttest_ind", "B", welch = false) + tTestSql("ttest_welch", "C", welch = true) + anovaSql
}

/** Training-data curation on a document corpus with embeddings. */
final class Curation(data: File) extends Workload {
  private val path = new File(data, "docs").getPath
  private val truthJson = truth(data)
  private val keptTruth: Set[Long] = truthJson.get("kept").elements().asScala.map(_.asLong).toSet
  private val familyOf: Map[Long, String] = truthJson.get("families").fields().asScala
    .flatMap(e => e.getValue.elements().asScala.map(_.asLong -> e.getKey)).toMap
  private val dim = truthJson.get("dim").asInt
  private var docs: DataFrame = _

  val inputRows: Long = truthJson.get("documents").asLong
  val inputBytes: Long = bytes(new File(path))

  def register(spark: SparkSession): Unit = docs = spark.read.parquet(path)

  def execute(spark: SparkSession, t: Tracer): Outcome = {
    val cur = t("pipeline", "TrainingData.curateFull", docs) {
      val c = TrainingData.curateFull(docs, "id", "text")
      (c, c.kept.select(col("id"), col("n_tokens")).collect().toSeq, c.reasons.collect().toSeq)
    }
    val (curated, keptRows, reasons) = cur
    t.rows(keptRows.size)

    val sims = t("text", "Dedup.simHash", docs) { Dedup.simHash(docs, "id", "text") }
    var bounded: graft.ops.BoundedPairs = null
    val pairs = t("text", "Dedup.simHashNearDupPairsBounded", sims) {
      bounded = Dedup.simHashNearDupPairsBounded(sims, "id", "simhash", maxHamming = 3, blocks = 4)
      bounded.pairs
    }
    val (components, rounds) = t("text", "Dedup.connectedComponentsWithRounds", pairs) {
      Dedup.connectedComponentsWithRounds(pairs.select(col("id_a"), col("id_b")))
    }
    val pairRows = pairs.collect().toSeq
    val componentRows = components.collect().toSeq
    bounded.cleanup()

    var cosCleanup: () => Unit = () => ()
    val cos = t("sim", "Similarity.cosineNearDupPairsWithCleanup", docs) {
      val (p, c) = Similarity.cosineNearDupPairsWithCleanup(docs, "id", "vec", dim, 0.95)
      cosCleanup = c
      p
    }
    val cosRows = cos.collect().toSeq
    cosCleanup()

    val digest = outputDigest("kept" -> lines(keptRows), "reasons" -> lines(reasons),
      "simhash_pairs" -> lines(pairRows), "components" -> lines(componentRows),
      "cosine_pairs" -> lines(cosRows))
    Outcome(digest,
      () => check(keptRows, reasons, pairRows, componentRows, cosRows),
      () => (),
      Map("text.cc_rounds" -> rounds.toDouble))
  }

  private def sameFamily(a: Long, b: Long) =
    familyOf.get(a).exists(f => familyOf.get(b).contains(f))

  private def check(kept: Seq[Row], reasons: Seq[Row], pairs: Seq[Row], comps: Seq[Row],
      cos: Seq[Row]): Seq[String] = {
    val keptIds = kept.map(_.getLong(0)).toSet
    val reasonN = reasons.map(r => r.getString(0) -> r.getLong(1)).toMap
    val junk = truthJson.get("junk").size.toLong
    val foreign = truthJson.get("foreign").size.toLong
    val badPairs = pairs.count(r => !sameFamily(r.getLong(0), r.getLong(1)))
    val badCos = cos.count(r => !sameFamily(r.getLong(0), r.getLong(1)) || r.getDouble(2) < 0.95)
    val badComps = comps.groupBy(_.getLong(1)).count { case (label, members) =>
      members.map(_.getLong(0)).min != label ||
        members.map(m => familyOf.get(m.getLong(0))).distinct.size != 1
    }
    expect(keptIds == keptTruth,
      s"kept ${keptIds.size} docs, want ${keptTruth.size}: unique removed " +
        s"${(keptTruth -- keptIds).take(5)}, planted dup/junk kept ${(keptIds -- keptTruth).take(5)}") ++
      expect(reasonN.getOrElse("low_quality", 0L) == junk,
        s"low_quality ${reasonN.get("low_quality")} != planted junk $junk") ++
      expect(reasonN.getOrElse("language", 0L) == foreign,
        s"language ${reasonN.get("language")} != planted non-English $foreign") ++
      expect(badPairs == 0, s"$badPairs simhash pairs cross planted families") ++
      expect(badComps == 0, s"$badComps components are mislabelled or cross families") ++
      expect(badCos == 0, s"$badCos cosine pairs cross families or miss the threshold")
  }
}

package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.SparkEntry
import graft.etl.{CustomerXml, MigrationFixture, MigrationPipeline}

/** One timed call into a public entry point, with its output check. */
final case class UnitResult(
    wallS: Double,
    ok: Boolean,
    note: String,
    /** Harness phases as (name, start ms, end ms), in order. */
    phases: Seq[(String, Long, Long)]) {
  def loMs: Long = phases.head._2
  def hiMs: Long = phases.last._3
}

trait Workload {
  def name: String

  /** Warm unit wall time on the machine the benchmark was defined on (4
    * cores); it turns `--seconds` into a fixed steady unit count. */
  def nominalUnitS: Double

  /** Generate and check this run's inputs under `dir`; returns a digest
    * of everything generated. Called several times per run. */
  def prepare(dir: Path, seed: Long): String

  /** Run unit `i` against the inputs under `dir`. Only the entry-point
    * calls are timed; per-unit input writing and checks are not. */
  def unit(spark: SparkSession, dir: Path, seed: Long, i: Int, tag: String): UnitResult

  /** Workload-specific per-layer metrics of one traced unit. */
  def unitLayers(r: UnitResult, tracer: Tracer, tag: String, cores: Int): Seq[(String, Double, String)] =
    Nil

  /** Extra traced-run measurements made once after the units. */
  def tracedExtras(spark: SparkSession, dir: Path, seed: Long): Seq[(String, Double, String)] = Nil
}

object Workloads {
  val all: Seq[Workload] = Seq(MigrationFull, GraphHot)

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** Time `body` as one harness phase tagged `<tag>/<phase>`. */
  def timed[T](spark: SparkSession, tag: String, phase: String)(body: => T): (T, (String, Long, Long)) = {
    val lo = System.currentTimeMillis()
    val v = Tracer.span(spark.sparkContext, s"$tag/$phase")(body)
    (v, (phase, lo, System.currentTimeMillis()))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The paper's migration under `RunMigration`'s config: strict duplicate
  * semantics and single-file output. Each unit reads its own seeded
  * permutation of the full fixture mapping from its own path. */
object MigrationFull extends Workload {
  val name = "migration_full"
  val nominalUnitS = 4.0
  val customers = 10000
  val files = 8
  private val PrefixReps = 3

  private def fixtureDir(dir: Path) = dir.resolve("fixture")

  /** Export customer ids: the fixture writes one customer per id
    * `C%07d` below `customers`. */
  private def exportCount(k: String): Int =
    if (k.length == 8 && k.head == 'C' && k.tail.forall(_.isDigit) &&
      k.tail.toInt < customers) 1 else 0

  private def mapping(dir: Path): (String, IndexedSeq[String]) = {
    val lines = Files.readAllLines(fixtureDir(dir).resolve("mapping.csv"))
    val all = (0 until lines.size).map(lines.get).filter(_.nonEmpty)
    (all.head, all.tail)
  }

  def prepare(dir: Path, seed: Long): String = {
    val fx = MigrationFixture.ensure(fixtureDir(dir).toString, customers, files)
    val exported = Inputs.listFiles(Path.of(fx.xmlDir))
      .map(Inputs.countElements(_, "customer")).sum
    val (_, rows) = mapping(dir)
    require(exported == customers, s"export holds $exported customers, expected $customers")
    require(rows.length == fx.csvRows, s"mapping holds ${rows.length} rows, expected ${fx.csvRows}")
    Inputs.digest(fixtureDir(dir))
  }

  /** Unit `i`'s mapping: a seeded permutation of every fixture row. */
  def unitMapping(dir: Path, seed: Long, i: Int): (String, IndexedSeq[String]) = {
    val (header, rows) = mapping(dir)
    (header, Inputs.permute(rows, Inputs.rng(seed, i.toLong)))
  }

  private def config(dir: Path, unitDir: Path, tag: String) =
    MigrationPipeline.MigrationConfig(
      csvPath = unitDir.resolve("mapping.csv").toString,
      xmlPath = fixtureDir(dir).resolve("export").toString,
      outDir = unitDir.resolve("out").toString,
      runId = tag, runDate = "2026-01-01", todayIso = "2026-01-01T00:00:00+00:00")

  def unit(spark: SparkSession, dir: Path, seed: Long, i: Int, tag: String): UnitResult = {
    val unitDir = dir.resolve("units").resolve(tag)
    val (header, rows) = unitMapping(dir, seed, i)
    Inputs.writeMapping(unitDir.resolve("mapping.csv"), header, rows)
    val want = Inputs.expected(rows, exportCount)
    val t0 = System.nanoTime()
    val (res, ph) = Workloads.timed(spark, tag, "run")(
      MigrationPipeline.run(spark, config(dir, unitDir, tag)))
    val wall = (System.nanoTime() - t0) / 1e9
    val xmlCustomers = Inputs.countElements(Path.of(res.outputXmlPath), "customer")
    val logRows = Inputs.csvDataLines(Path.of(res.logCsvPath))
    val problems = Seq(
      (res.customersFound, want.found, "found"),
      (res.csvDistinctIds, want.distinct, "distinct"),
      (xmlCustomers, want.found, "output XML customers"),
      (logRows, want.rows, "log rows"))
      .collect { case (got, exp, what) if got != exp => s"$what $got != $exp" }
    Inputs.deleteTree(unitDir.resolve("out"))
    UnitResult(wall, problems.isEmpty,
      if (problems.isEmpty) s"found ${res.customersFound}/${want.rows} rows" else problems.mkString("; "),
      Seq(ph))
  }

  /** Prefix timing of the chain `MigrationPipeline.run` composes, in its
    * config: prefix k runs phases 1..k from the source files; a phase's
    * self time is prefix(k) − prefix(k−1), over the median prefix times.
    * Nothing is cached, so every prefix pays for the phases before it. */
  override def tracedExtras(spark: SparkSession, dir: Path, seed: Long): Seq[(String, Double, String)] = {
    val tag = "prefix"
    val unitDir = dir.resolve("units").resolve(tag)
    val (header, rows) = unitMapping(dir, seed, -1)
    Inputs.writeMapping(unitDir.resolve("mapping.csv"), header, rows)
    val cfg = config(dir, unitDir, tag)
    def customers() = MigrationPipeline.prepareCustomers(
      CustomerXml.read(spark, cfg.xmlPath, cfg.customerSchema), cfg.strictDuplicateSemantics)
    def prepared() = MigrationPipeline.prepareCsv(MigrationPipeline.readCsv(spark, cfg.csvPath))
    def output() = {
      val p = prepared()
      val t = MigrationPipeline.transformMatched(
        MigrationPipeline.coreJoin(customers(), p), cfg.todayIso)
      t.select(col("csv_idx") +: cfg.customerSchema.fields.toIndexedSeq.map(f => col(s"`${f.name}`")): _*)
    }
    val rootTag = CustomerXml.readRootTag(spark, cfg.xmlPath)
    def writeXml(): Unit = CustomerXml.write(
      output().repartition(1).sortWithinPartitions("csv_idx").drop("csv_idx"),
      unitDir.resolve("xml").toString, rootTag)
    def writeLog(): Unit = {
      val p = prepared()
      val matched = MigrationPipeline.coreJoin(customers(), p)
      MigrationPipeline.deriveLog(p, matched.select(col("join_key"), p("key_ordinal")))
        .repartition(1).sortWithinPartitions("csv_idx").drop("csv_idx")
        .write.mode("overwrite").option("header", "true").csv(unitDir.resolve("log").toString)
    }
    val chain: Seq[(String, () => Unit)] = Seq(
      "read_xml" -> (() => Workloads.noop(customers())),
      "prepare_csv" -> (() => { Workloads.noop(customers()); Workloads.noop(prepared()) }),
      "join" -> (() => Workloads.noop(MigrationPipeline.coreJoin(customers(), prepared()))),
      "transform" -> (() => Workloads.noop(output())),
      "write_xml" -> (() => writeXml()),
      "write_log" -> (() => { writeXml(); writeLog() }))
    // one pass per prefix is noisier than the cheaper phases; take the
    // median of PrefixReps passes, each running the whole chain in order
    val passes = (0 until PrefixReps).map { k =>
      chain.map { case (phase, body) =>
        val t0 = System.nanoTime()
        Tracer.span(spark.sparkContext, s"$tag/$phase-$k")(body())
        (System.nanoTime() - t0) / 1e9
      }
    }
    val prefixS = chain.indices.map(j => Stats.median(passes.map(_(j))))
    val selfS = Stats.prefixSelf(prefixS)
    val xmlMb = Inputs.listFiles(unitDir.resolve("xml")).map(Files.size).sum / (1024.0 * 1024.0)
    val parsed = customers().count()
    val want = Inputs.expected(rows, exportCount)
    Inputs.deleteTree(unitDir)
    chain.map(_._1).zip(selfS).map { case (p, s) => (s"etl.${p}_s", s, "s") } ++ Seq(
      ("etl.customers_in", parsed.toDouble, "count"),
      ("etl.mapping_rows", want.rows.toDouble, "count"),
      ("etl.matched", want.found.toDouble, "count"),
      ("etl.xml_out_mb", xmlMb, "MB"),
      ("etl.match_ratio", want.found.toDouble / parsed, "ratio"))
  }
}

/** The graph hot set: one pass of `q_g3_hits` then `q_g7_triangles`
  * through `SparkEntry.queries`, over a seeded row permutation of the
  * order and line-item tables. */
object GraphHot extends Workload {
  val name = "graph_hot"
  val nominalUnitS = 10.0
  val shape = Inputs.GraphShape(orders = 15000, lineitems = 60000, customers = 1500,
    parts = 2000, suppliers = 100)
  val queries: Seq[String] = Seq("q_g3_hits", "q_g7_triangles")

  /** (rows, checksum) of each query's output, recorded at the commit that
    * introduced this benchmark. Row order does not enter the checksum. */
  val expected: Map[String, (Long, Long)] = Map(
    "q_g3_hits" -> (1600L, 882998119421632L),
    "q_g7_triangles" -> (2000L, 1095542881244719L))

  def prepare(dir: Path, seed: Long): String = {
    val r = Inputs.rng(seed, 0L)
    val tables = Seq(
      ("orders", Seq("o_orderkey", "o_custkey"), Inputs.permute(Inputs.ordersRows(shape), r)),
      ("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"),
        Inputs.permute(Inputs.lineitemRows(shape), r)))
    tables.foreach { case (t, cols, rows) =>
      val file = dir.resolve(s"$t.parquet").resolve("part-00000.parquet")
      Inputs.writeLongParquet(file, cols, rows)
      require(Inputs.parquetRows(file) == rows.length,
        s"$t holds ${Inputs.parquetRows(file)} rows, expected ${rows.length}")
    }
    Inputs.digest(dir)
  }

  /** Row count and an order-independent checksum, observed while the
    * rows stream into the noop sink. Doubles are rounded to 6 places. */
  private def observed(df: DataFrame, obs: Observation): DataFrame = {
    val cells = df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`"), 6)
        case _ => col(s"`${f.name}`")
      }
    }
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(pmod(xxhash64(cells: _*), lit(1L << 40))), lit(0L)).as("checksum"))
  }

  def unit(spark: SparkSession, dir: Path, seed: Long, i: Int, tag: String): UnitResult = {
    val runs = queries.map { q =>
      val obs = Observation(q)
      val t0 = System.nanoTime()
      val (_, ph) = Workloads.timed(spark, tag, q)(
        Workloads.noop(observed(SparkEntry.queries(q)(spark, dir.toString), obs)))
      val wall = (System.nanoTime() - t0) / 1e9
      val m = obs.get
      (q, wall, ph, m("rows").asInstanceOf[Long], m("checksum").asInstanceOf[Long])
    }
    val problems = runs.collect {
      case (q, _, _, n, c) if expected(q) != ((n, c)) => s"$q rows/checksum $n/$c != ${expected(q)}"
    }
    UnitResult(runs.map(_._2).sum, problems.isEmpty,
      if (problems.isEmpty) runs.map(r => s"${r._1} ${r._4} rows").mkString(", ")
      else problems.mkString("; "),
      runs.map(_._3))
  }

  override def unitLayers(r: UnitResult, tracer: Tracer, tag: String, cores: Int): Seq[(String, Double, String)] =
    r.phases.flatMap { case (q, lo, hi) =>
      val s = tracer.summarize(s"$tag/$q", lo, hi, cores)
      (s"graph.${q}_s", (hi - lo) / 1e3, "s") +:
        s.metrics.map { case (k, v, u) => (s"graph.$q.$k", v, u) }
    }
}

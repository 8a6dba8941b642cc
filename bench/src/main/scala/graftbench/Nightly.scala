package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.etl.{Pipeline, Reports, Schemas, Warehouse}
import graft.sources.{DropFolder, ParquetBankSource, Xlsx}

/** The nightly workloads. The initial-load night runs once per build
  * ([[initialLoad]], from a fixed seed) and every run starts from a copy
  * of that warehouse and runs two consecutive `Pipeline.run` nights in a
  * fresh process, on drops generated from the run's seed: a warm-up night,
  * then the timed one. Runs under a trace also gather the timed night's
  * layer counters, outside the timed window.
  */
final class Nightly(spark: SparkSession, seed: Long, sc: NightlyScale,
                    mode: Reports.Mode, trace: Option[Trace]) {
  // the catalog records absolute paths: the initial load and every run
  // use the same working directory, so a restored copy is consistent
  private val base = Paths.get("nightly").toAbsolutePath
  private val whRoot = base.resolve("wh").toString
  private val drop = base.resolve("drop")

  private val bankSchemas = Map(
    "clients" -> Schemas.clients, "accounts" -> Schemas.accounts, "cards" -> Schemas.cards)
    .map { case (k, s) => k -> StructType(s.fields.filter(_.name != "processed_dt")) }

  private def writeNight(dir: Path, n: NightInputs): Long = {
    Files.createDirectories(dir)
    Seq("clients" -> n.clients, "accounts" -> n.accounts, "cards" -> n.cards).foreach { case (t, rows) =>
      spark.createDataFrame(rows.map(r => Row.fromSeq(r.toSeq)).asJava, bankSchemas(t))
        .coalesce(1).write.parquet(dir.resolve("bank").resolve(s"$t.parquet").toString)
    }
    n.files.foreach { case (name, bytes) => Files.write(dir.resolve(name), bytes) }
    Inodes.snapshot(dir).bytes
  }

  private def runTs(n: NightInputs): Timestamp = Timestamp.valueOf(n.date.atTime(23, 55))

  private def dropAndRun(p: Pipeline, dir: Path, drop: Path, n: NightInputs): Unit = {
    Files.createDirectories(drop)
    n.files.foreach { case (name, _) =>
      Files.copy(dir.resolve(name), drop.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    p.run(new ParquetBankSource(dir.resolve("bank").toString), Some(drop.toString), runTs(n))
  }

  /** The initial-load night alone, into `nightly/` under the working
    * directory: the state every run's timed nights start from.
    */
  def initialLoad(): Unit = {
    val gen = new NightlyGen(Nightly.BaseSeed, sc)
    val n0 = gen.next()
    val dir = base.resolve("inputs").resolve("night00")
    writeNight(dir, n0)
    dropAndRun(new Pipeline(spark, new Warehouse(spark, whRoot), mode), dir, drop, n0)
  }

  def run(): Map[String, Any] = {
    require(Files.exists(Paths.get(whRoot, "_catalog.json")), s"no initial load under $whRoot")
    // set-up: generate the inputs (repeated, the median is reported) and
    // write every night's files; the initial load is already in place
    val genTimes = mutable.ArrayBuffer[Double]()
    var gen: NightlyGen = null
    var inputs: Seq[NightInputs] = null
    (0 until Nightly.GenReps).foreach { _ =>
      val t0 = System.nanoTime()
      gen = new NightlyGen(Nightly.BaseSeed, sc)
      val n0 = gen.next()
      gen.reseed(seed)
      inputs = Seq(n0, gen.next(), gen.next())
      genTimes += (System.nanoTime() - t0) / 1e9
    }
    val nights = inputs.tail // the warm-up night, then the timed one
    val dirs = nights.indices.map(i => base.resolve("inputs").resolve(f"night${i + 1}%02d"))
    val t0 = System.nanoTime()
    val initBytes = Inodes.snapshot(base.resolve("inputs").resolve("night00")).bytes
    val nightBytes = nights.zip(dirs).map { case (n, d) => writeNight(d, n) }
    val writeS = (System.nanoTime() - t0) / 1e9
    val wh = new Warehouse(spark, whRoot)
    val pipeline = new Pipeline(spark, wh, mode)
    val whPath = Paths.get(whRoot)

    val heapBefore = BenchSession.oldGenAfterGc()
    // warm-up: the JVM's first night pays class loading and JIT
    // compilation, as the cron job's night does; it counts as set-up
    val w0 = System.nanoTime()
    dropAndRun(pipeline, dirs(0), drop, nights(0))
    val warmS = (System.nanoTime() - w0) / 1e9
    val dims = Schemas.dimKeys.keys.toSeq.sorted
    val before = Inodes.snapshot(whPath)
    val dimDirsBefore = dims.map(d => d -> wh.catalog().getOrElse(d, Nil)).toMap
    val repBefore = wh.catalog().getOrElse("rep_fraud", Nil).toSet
    val n = nights(1)
    trace.foreach(_.register(spark))
    val startMs = System.currentTimeMillis()
    val tNight = System.nanoTime()
    dropAndRun(pipeline, dirs(1), drop, n)
    val s = (System.nanoTime() - tNight) / 1e9
    val endMs = System.currentTimeMillis()
    trace.foreach(_.unregister(spark))
    val heapPeak = math.max(heapBefore, BenchSession.oldGenAfterGc())
    val after = Inodes.snapshot(whPath)
    val (files, bytes) = after.newSince(before)

    // layer counters, gathered outside the timed window
    val layers = trace.map { _ =>
      val cat = wh.catalog()
      val touched = dims.map { d =>
        val dirsNow = cat.getOrElse(d, Nil)
        val share = if (dirsNow == dimDirsBefore(d)) 0.0 else {
          val parts = after.files.filter { case (p, _) =>
            dirsNow.exists(dd => p.startsWith(dd)) && p.endsWith(".parquet") }
          val fresh = parts.count { case (_, (ino, _)) => !before.inodes.contains(ino) }
          if (parts.isEmpty) 0.0 else fresh.toDouble / parts.size
        }
        d -> share
      }.toMap
      val repNew = cat.getOrElse("rep_fraud", Nil).filterNot(repBefore)
      val repDf = repNew.map(d => spark.read.parquet(d).select("report_dt"))
        .reduceOption(_ unionByName _)
      val (appended, tonight) = repDf.map { df =>
        val r = df.agg(count(lit(1)), sum(when(to_date(col("report_dt")) === lit(java.sql.Date.valueOf(n.date)), 1)
          .otherwise(0))).head()
        (r.getLong(0), Option(r.get(1)).map(_.toString.toLong).getOrElse(0L))
      }.getOrElse((0L, 0L))
      val xlsxS = n.files.map(_._1).filter(_.endsWith(".xlsx")).map { f =>
        val x0 = System.nanoTime(); Xlsx.readSheet(dirs(1).resolve(f).toString)
        (System.nanoTime() - x0) / 1e9
      }.sum
      val versions = after.files.keys.count(_.contains("/_versions/")) -
        before.files.keys.count(_.contains("/_versions/"))
      Map("files_written" -> files, "bytes_written" -> bytes,
        "files_linked" -> after.linkedSince(before), "catalog_versions" -> versions,
        "buckets_touched_share" -> touched, "changed_key_share" -> changedKeyShare,
        "rep_rows_appended" -> appended, "rep_rows_tonight" -> tonight, "xlsx_parse_s" -> xlsxS)
    }

    val expected = checkInputs(gen, inputs, drop)
    exportForOracle(wh, base.resolve("export"))
    Map(
      "steps" -> Seq(Map("label" -> "night", "group" -> "night", "start" -> startMs,
        "end" -> endMs, "s" -> s)),
      "warmup_s" -> warmS,
      "gen_reps_s" -> genTimes.toSeq,
      "write_inputs_s" -> writeS,
      "heap_peak_mb" -> heapPeak / 1048576.0,
      "input_rows" -> n.inputRows,
      "input_bytes" -> nightBytes(1),
      "cum_input_bytes" -> (initBytes + nightBytes.sum),
      "new_bytes" -> bytes,
      "end_bytes" -> after.bytes,
      "digest" -> NightlyGen.digest(inputs),
      "expected" -> expected,
      "night" -> layers.orNull,
      "export" -> base.resolve("export").toString,
      "mode" -> (if (mode == Reports.Faithful) "faithful" else "corrected"))
  }

  private def changedKeyShare: Map[String, Double] = {
    val per = (sc.inserts + sc.updates + sc.deletes).toDouble
    Map("dim_clients" -> per / sc.clients, "dim_accounts" -> per / sc.accounts,
      "dim_cards" -> per / sc.cards, "dim_terminals" -> sc.terminalChurn.toDouble / sc.terminals)
  }

  /** The drop-folder check (every drop file archived, none left behind)
    * plus what the DuckDB checks compare against: the generator's final
    * dim images and the number of distinct transaction ids it dropped.
    */
  private def checkInputs(gen: NightlyGen, inputs: Seq[NightInputs], drop: Path): Map[String, Any] = {
    val names = inputs.flatMap(_.files.map(_._1))
    val left = DropFolder.discover(drop.toString).map(_.path.getFileName.toString)
    val st = Files.list(drop.resolve("archive"))
    val archived = try st.iterator().asScala.map(_.getFileName.toString).toSet finally st.close()
    val expected = names.map(_.split('.').head + ".backup").toSet
    Map(
      "drop_archived" -> Map("ok" -> (left.isEmpty && archived == expected),
        "detail" -> s"left=${left.size} archived=${archived.size}/${expected.size}"),
      "trans_ids" -> inputs.flatMap(_.transIds).distinct.size,
      "dims" -> gen.expectedDims.map { case (d, rows) =>
        d -> Map("cols" -> (Schemas.dimKeys(d) +: Schemas.dimCompareCols(d)), "rows" -> rows) })
  }

  /** The final warehouse as plain parquet for the DuckDB recomputation of
    * the reports, plus the rows the final night appended to rep_fraud.
    */
  private def exportForOracle(wh: Warehouse, dir: Path): Unit = {
    Seq("fact_transactions", "dim_cards", "dim_accounts", "dim_clients", "dim_terminals",
      "fact_blacklist").foreach { t =>
      wh.read(t).write.parquet(dir.resolve(t).toString)
    }
    val versions = wh.versions()
    val prev = wh.catalogAsOf(versions(versions.length - 2)).getOrElse("rep_fraud", Nil).toSet
    val last = wh.catalog().getOrElse("rep_fraud", Nil).filterNot(prev)
    last.map(d => spark.read.parquet(d).select(Schemas.repFraud.fieldNames.map(col): _*))
      .reduce(_ unionByName _)
      .write.parquet(dir.resolve("rep_last").toString)
  }
}

object Nightly {
  /** Seed of the initial load, shared by every run of a workload. */
  val BaseSeed = 20210301L

  /** Input generations per run; `setup_s` takes their median. */
  val GenReps = 3
}

package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths => JPaths}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** FILE-LEVEL DATA SKIPPING — per-file column min/max/null statistics
  * evaluated at PLANNING time through a custom [[FileIndex]], so files
  * that provably contain no matching row never become scan tasks (the
  * Delta/Iceberg "data skipping" feature, built on Spark's own
  * extension seam: `FileSourceScanExec` hands its pushed data filters
  * to `FileIndex.listFiles`).
  *
  * This is the read-side consumer the engine's Z-ORDER layout
  * ([[graft.operators.Layout]]) exists for: a z-ordered table bounds
  * every file to a small rectangle in (a, b) space, and this index
  * turns a range predicate on EITHER column into a file-count cut
  * before a single task is launched. Parquet's own row-group pruning
  * happens too — but executor-side, after tasks for every file were
  * created, scheduled, and had footers read. At 100 TB / millions of
  * files, driver-side pruning over catalog-persisted stats is the
  * difference between a point query costing one task and costing one
  * task PER FILE.
  *
  * Stats come from the parquet FOOTERS (one driver read per file,
  * cached per directory) or — the at-scale path — from a `_graft_stats`
  * SIDECAR written once at commit time ([[writeSidecar]]; the
  * Warehouse writes it for every non-partitioned data dir), so steady-
  * state reads do ZERO per-file metadata I/O. Sidecar and footer agree
  * by construction (the sidecar is written FROM the footers;
  * spec-asserted).
  *
  * Pruning is CONSERVATIVE — a file is dropped only when the predicate
  * provably matches no row:
  *  - supported conjuncts: `=`, `<=>`, `<`, `<=`, `>`, `>=`, `IN`
  *    against literals, `IS NULL` / `IS NOT NULL`; anything else
  *    (disjunctions, expressions over the column, UDFs) is ignored —
  *    the file is kept and row-level filtering does its normal job;
  *  - supported stats domains: integral (incl. date/timestamp-micros),
  *    floating (NaN stats rejected, -0.0 normalized to 0.0 to match
  *    SQL equality), and UTF-8 strings compared BYTE-WISE unsigned —
  *    the same ordering Spark's UTF8String uses (java.lang.String
  *    compareTo would diverge on supplementary characters);
  *  - a column with absent/unusable stats never prunes; unknown null
  *    counts never prune null predicates.
  *
  * Correctness contract: `read(...)` ≡ `spark.read.parquet(...)` for
  * every predicate, just with fewer files scanned (spec-asserted
  * against the plain read on seeded layouts, nulls included).
  */
object DataSkipping {

  /** Per-file, per-column stats in a normalized comparable domain:
    * min/max are Long, Double, or String (None = unusable — absent,
    * all-null, NaN, or an unsupported physical type); `nulls` is -1
    * when the writer did not record a null count.
    */
  final case class ColStats(min: Option[Any], max: Option[Any],
                            nulls: Long, rows: Long)

  /** Stats for one parquet file: row count + per-column bounds. */
  final case class FileStats(name: String, rows: Long,
                             cols: Map[String, ColStats])

  // -------------------------------------------------------------------
  // Footer harvesting
  // -------------------------------------------------------------------

  /** Normalize one column-chunk statistics object into the comparable
    * domain, or None when it cannot prune soundly.
    */
  private def normBounds(pt: PrimitiveType,
                         st: org.apache.parquet.column.statistics.Statistics[_]): Option[(Any, Any)] = {
    import PrimitiveType.PrimitiveTypeName._
    if (st == null || st.isEmpty || !st.hasNonNullValue) return None
    def longs(f: Any => Long): Option[(Any, Any)] =
      Some((f(st.genericGetMin), f(st.genericGetMax)))
    def noNaN(mn: Double, mx: Double): Option[(Any, Any)] =
      if (mn.isNaN || mx.isNaN) None
      else Some((if (mn == 0.0) 0.0 else mn, if (mx == 0.0) 0.0 else mx))
    val lt = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case INT32 => lt match {
        case null => longs(_.asInstanceOf[Number].longValue)
        case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation |
             _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
          longs(_.asInstanceOf[Number].longValue)
        case _ => None
      }
      case INT64 => lt match {
        case null => longs(_.asInstanceOf[Number].longValue)
        case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          longs(_.asInstanceOf[Number].longValue)
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          // normalize to MICROS — the domain of Spark timestamp literals
          val scale: Long => Long = ts.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS => _ * 1000L
            case LogicalTypeAnnotation.TimeUnit.MICROS => identity
            case LogicalTypeAnnotation.TimeUnit.NANOS => _ / 1000L
            case _ => return None
          }
          longs(v => scale(v.asInstanceOf[Number].longValue))
        case _ => None
      }
      case FLOAT =>
        noNaN(st.genericGetMin.asInstanceOf[Float].toDouble,
          st.genericGetMax.asInstanceOf[Float].toDouble)
      case DOUBLE =>
        noNaN(st.genericGetMin.asInstanceOf[Double],
          st.genericGetMax.asInstanceOf[Double])
      case BINARY => lt match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
          Some((st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
            st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8))
        case _ => None
      }
      case _ => None
    }
  }

  /** Read the footer of one parquet file into [[FileStats]] —
    * per-column bounds merged across its row groups (every row group
    * must contribute usable bounds, else the column is unusable for
    * the whole file).
    */
  def statsOfFile(spark: SparkSession, file: Path): FileStats =
    statsOfFile(spark.sessionState.newHadoopConf(), file)

  /** [[statsOfFile]] with the Hadoop conf supplied by the caller —
    * `newHadoopConf()` clones the whole session configuration, and
    * paying that clone PER FILE made commit-time sidecar writes a
    * measurable driver cost (SCALING_r15 §6: 0.3–0.5 s per scenario
    * query). One clone per directory walk, not per footer.
    */
  def statsOfFile(conf: org.apache.hadoop.conf.Configuration,
                  file: Path): FileStats = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val perCol = scala.collection.mutable.Map[String, ColStats]()
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          if (!c.getPath.toArray.exists(_ == null) && c.getPath.size == 1) {
            val bounds = normBounds(c.getPrimitiveType, c.getStatistics)
            val nulls =
              if (c.getStatistics == null || c.getStatistics.isNumNullsSet)
                Option(c.getStatistics).map(_.getNumNulls).getOrElse(-1L)
              else -1L
            val prev = perCol.get(name)
            val merged = prev match {
              case None => ColStats(bounds.map(_._1), bounds.map(_._2), nulls, b.getRowCount)
              case Some(p) =>
                val mn = for (a <- p.min; b2 <- bounds.map(_._1); c2 <- cmp(a, b2)) yield if (c2 <= 0) a else b2
                val mx = for (a <- p.max; b2 <- bounds.map(_._2); c2 <- cmp(a, b2)) yield if (c2 >= 0) a else b2
                val nu = if (p.nulls < 0 || nulls < 0) -1L else p.nulls + nulls
                ColStats(mn, mx, nu, p.rows + b.getRowCount)
            }
            perCol(name) = merged
          }
        }
      }
      FileStats(file.getName, rows, perCol.toMap)
    } finally reader.close()
  }

  /** Footer-scan every data file under `dir`, RECURSIVELY — partition
    * subdirs (`dt=…/part-….parquet`) included; `name` is the path
    * relative to `dir`, so the sidecar stays valid wherever the dir is
    * mounted.
    */
  def collectStats(spark: SparkSession, dir: String): Seq[FileStats] = {
    val root = JPaths.get(dir)
    if (!JFiles.isDirectory(root)) return Nil
    val conf = spark.sessionState.newHadoopConf() // ONE clone per walk
    def walk(d: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val st = JFiles.list(d)
      val children = try st.iterator().asScala.toSeq finally st.close()
      children.flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (JFiles.isDirectory(p)) walk(p)
        else if (JFiles.isRegularFile(p) && n.endsWith(".parquet")) Seq(p)
        else Nil
      }
    }
    // footer reads are independent metadata I/O — read them in parallel
    // (a 64-bucket dir is 64+ sequential opens otherwise; this is the
    // commit path of every warehouse txn)
    import scala.collection.parallel.CollectionConverters._
    walk(root).par.map(p =>
      statsOfFile(conf, new Path(p.toUri))
        .copy(name = root.relativize(p).toString)).seq
  }

  // -------------------------------------------------------------------
  // Sidecar persistence (the at-scale path: stats written once at
  // commit, zero per-file metadata I/O at read)
  // -------------------------------------------------------------------

  private val SidecarName = "_graft_stats.tsv"

  private def enc(s: String): String =
    s.flatMap {
      case '\t' => "%09"; case '\n' => "%0a"; case '\r' => "%0d"; case '%' => "%25"
      case c => c.toString
    }

  private def dec(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length + 1 && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  private def cell(v: Option[Any]): (String, String) = v match {
    case Some(l: Long) => ("l", l.toString)
    case Some(d: Double) => ("d", java.lang.Double.toString(d))
    case Some(s: String) => ("s", enc(s))
    case _ => ("-", "")
  }

  /** Persist `dir`'s footer stats as a `_graft_stats.tsv` sidecar
    * (leading underscore: invisible to parquet scans). One line per
    * (file, column): name, rows, column, kind, min, max, nulls.
    */
  def writeSidecar(spark: SparkSession, dir: String): Unit = {
    val lines = collectStats(spark, dir).flatMap { fs =>
      fs.cols.toSeq.sortBy(_._1).map { case (cn, cs) =>
        val (k1, mn) = cell(cs.min)
        val (_, mx) = cell(cs.max)
        Seq(enc(fs.name), fs.rows.toString, enc(cn), k1, mn, mx,
          cs.nulls.toString).mkString("\t")
      } match {
        case Nil => Seq(Seq(enc(fs.name), fs.rows.toString, "", "-", "", "", "-1")
          .mkString("\t"))
        case ls => ls
      }
    }
    JFiles.write(JPaths.get(dir, SidecarName),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  // -------------------------------------------------------------------
  // Bloom sidecar — point-lookup file skipping
  //
  // Min/max bounds prune RANGE predicates, but on a column the layout
  // does not cluster (a hash-scattered key, an id looked up by value)
  // every file's [min,max] spans the whole domain and stats keep
  // everything. A per-file Bloom filter answers the question stats
  // cannot: "can this FILE contain this exact value?" — no false
  // negatives, so dropping refuted files never changes the answer, and
  // at 100 TB a point lookup opens ~1 file instead of all of them.
  // Deterministic geometry (md5 double-hashing, graft.functions.QBloom)
  // so the sidecar is reproducible byte-for-byte.
  // -------------------------------------------------------------------

  private val BloomSidecarName = "_graft_bloom.tsv"

  /** Column types whose relational `cast(col AS STRING)` rendering the
    * probe side reproduces exactly (Literal → text below): integrals
    * and strings. Anything else (date/timestamp/decimal/floating)
    * renders differently between the build cast and a literal's value
    * object, so we refuse rather than risk an unsound prune.
    */
  private def bloomSupported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** Literal → the exact text the build side hashed (None = a type we
    * do not index; never prunes).
    */
  private def bloomKey(l: Literal): Option[String] =
    if (l.value == null) None
    else l.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(l.value.asInstanceOf[Number].longValue.toString)
      case StringType => Some(l.value.toString)
      case _ => None
    }

  /** Build and persist per-(file, column) Bloom filters for `cols`
    * under `dir` as a `_graft_bloom.tsv` sidecar. ONE distributed pass
    * per column (input_file_name() groups rows to their source file);
    * the driver receives files × mBits/8 bytes — bucket-count-bounded,
    * never data-sized. Run once at commit/maintenance time, like the
    * stats sidecar; the dir's files are immutable so the index never
    * stales. Sizing: mBits ≈ 10× the expected per-file key count keeps
    * false positives ~1% (a false positive only costs an extra file
    * read, never correctness).
    */
  def writeBloomSidecar(spark: SparkSession, dir: String, cols: Seq[String],
                        mBits: Long = 1L << 17, k: Int = 5): Unit = {
    require(cols.nonEmpty, "no columns to index")
    val df = spark.read.parquet(dir)
    cols.foreach { c =>
      val f = df.schema.fields.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(s"no such column: $c"))
      require(bloomSupported(f.dataType),
        s"bloom index supports integral/string columns, got $c: ${f.dataType.simpleString}")
    }
    val root = JPaths.get(dir).toAbsolutePath
    def rel(uri: String): String =
      root.relativize(JPaths.get(new java.net.URI(uri).getPath)).toString
    // MERGE with any existing sidecar: a second call with a different
    // column set must not drop the earlier columns' filters (lost
    // pruning, never wrong results — but silently lost is still a bug).
    // Entries for the requested columns are replaced; others survive.
    val sidecar = JPaths.get(dir, BloomSidecarName)
    val colSet = cols.toSet
    val kept =
      if (!JFiles.exists(sidecar)) Nil
      else JFiles.readAllLines(sidecar, StandardCharsets.UTF_8).asScala.toSeq
        // a torn line (crash mid-write truncated the file) must not turn
        // the merge into a permanent crash loop — drop anything that is
        // not a complete 5-field record; its filter is rebuilt below if
        // requested, or lost (pruning only, never wrong results) if not
        .filter(_.split("\t", -1).length == 5)
        .filterNot(line => colSet.contains(dec(line.split("\t", -1)(1))))
    val lines = kept ++ cols.flatMap { c =>
      graft.functions.QBloom
        .buildPerGroup(df, input_file_name(), col(c), mBits, k)
        .toSeq.map { case (file, flt) =>
          val bytes = java.nio.ByteBuffer.allocate(flt.words.length * 8)
          flt.words.foreach(bytes.putLong)
          Seq(enc(rel(file)), enc(c), flt.mBits.toString, flt.k.toString,
            java.util.Base64.getEncoder.encodeToString(bytes.array))
            .mkString("\t")
        }
    }
    JFiles.write(sidecar,
      lines.sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Load `dir`'s Bloom sidecar: relative file name → column → filter.
    * Absent sidecar = empty map (stats-only skipping).
    */
  def loadBlooms(spark: SparkSession, dir: String): Map[String, Map[String, graft.functions.QBloom.Filter]] = {
    val sc = JPaths.get(dir, BloomSidecarName)
    if (!JFiles.exists(sc)) return Map.empty
    JFiles.readAllLines(sc, StandardCharsets.UTF_8).asScala
      .filter(_.split("\t", -1).length == 5) // drop torn trailing lines
      .map { line =>
        val f = line.split("\t", -1)
        val bytes = java.util.Base64.getDecoder.decode(f(4))
        val bb = java.nio.ByteBuffer.wrap(bytes)
        val words = Array.fill(bytes.length / 8)(bb.getLong)
        (dec(f(0)), dec(f(1)),
          graft.functions.QBloom.Filter(words, f(2).toLong, f(3).toInt))
      }
      .groupBy(_._1)
      .map { case (file, rows) =>
        file -> rows.map(r => r._2 -> r._3).toMap
      }
  }

  /** May a file with Bloom filters `fb` contain a row satisfying
    * `conjunct`? Only exact-match shapes consult the filter; a literal
    * of an un-indexed type, or a column without a filter, keeps the
    * file. Sound because the build pass covered every non-null value in
    * the file and equality never matches null.
    */
  private def bloomMayMatch(fb: Map[String, graft.functions.QBloom.Filter],
                            conjunct: Expression): Boolean = {
    def test(a: AttributeReference, lits: Seq[Literal]): Boolean =
      fb.get(a.name) match {
        case None => true
        case Some(f) => lits.exists(l => bloomKey(l).forall(s =>
          graft.functions.QBloom.testKey(
            UTF8String.fromString(s), f.words, f.mBits, f.k)))
      }
    conjunct match {
      case EqualTo(a: AttributeReference, l: Literal) => test(a, Seq(l))
      case EqualTo(l: Literal, a: AttributeReference) => test(a, Seq(l))
      case EqualNullSafe(a: AttributeReference, l: Literal) if l.value != null =>
        test(a, Seq(l))
      case EqualNullSafe(l: Literal, a: AttributeReference) if l.value != null =>
        test(a, Seq(l))
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        test(a, vs.map(_.asInstanceOf[Literal]))
      case _ => true
    }
  }

  /** Load stats for `dir`: the sidecar when present, else footers. */
  def loadStats(spark: SparkSession, dir: String): Seq[FileStats] = {
    val sc = JPaths.get(dir, SidecarName)
    if (!JFiles.exists(sc)) return collectStats(spark, dir)
    val byFile = scala.collection.mutable.LinkedHashMap[String, (Long, scala.collection.mutable.Map[String, ColStats])]()
    JFiles.readAllLines(sc, StandardCharsets.UTF_8).asScala.foreach { line =>
      if (line.nonEmpty) {
        val f = line.split("\t", -1)
        val (name, rows, cn, kind, mn, mx, nu) =
          (dec(f(0)), f(1).toLong, dec(f(2)), f(3), f(4), f(5), f(6).toLong)
        val entry = byFile.getOrElseUpdate(name, (rows, scala.collection.mutable.Map()))
        if (cn.nonEmpty) {
          val bounds: Option[(Any, Any)] = kind match {
            case "l" => Some((mn.toLong, mx.toLong))
            case "d" => Some((mn.toDouble, mx.toDouble))
            case "s" => Some((dec(mn), dec(mx)))
            case _ => None
          }
          entry._2(cn) = ColStats(bounds.map(_._1), bounds.map(_._2), nu, rows)
        }
      }
    }
    byFile.toSeq.map { case (n, (r, cols)) => FileStats(n, r, cols.toMap) }
  }

  // -------------------------------------------------------------------
  // Predicate evaluation over stats
  // -------------------------------------------------------------------

  /** Domain comparison; None = incomparable (never prunes). Strings
    * compare as unsigned UTF-8 bytes — UTF8String's ordering.
    */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
    case (x: String, y: String) =>
      Some(java.util.Arrays.compareUnsigned(
        x.getBytes(StandardCharsets.UTF_8), y.getBytes(StandardCharsets.UTF_8)))
    case _ => None
  }

  /** A literal in the stats domain (None = unsupported type/value). */
  private def litNorm(l: Literal): Option[Any] = {
    if (l.value == null) return None
    l.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(l.value.asInstanceOf[Number].longValue)
      case DateType => Some(l.value.asInstanceOf[Number].longValue)
      case TimestampType | TimestampNTZType =>
        Some(l.value.asInstanceOf[Number].longValue)
      case FloatType =>
        val d = l.value.asInstanceOf[Float].toDouble
        if (d.isNaN) None else Some(if (d == 0.0) 0.0 else d)
      case DoubleType =>
        val d = l.value.asInstanceOf[Double]
        if (d.isNaN) None else Some(if (d == 0.0) 0.0 else d)
      case StringType => Some(l.value.asInstanceOf[UTF8String].toString)
      case _ => None
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** May `fs` contain a row satisfying `conjunct`? (true = keep;
    * unknown shapes are always true).
    */
  private def mayMatch(fs: FileStats, conjunct: Expression): Boolean = {
    def st(a: AttributeReference): Option[ColStats] = fs.cols.get(a.name)
    // keep-file check against [min, max]; unusable bounds keep the file
    def bounds(a: AttributeReference)(f: (Any, Any) => Boolean): Boolean =
      st(a) match {
        case Some(ColStats(Some(mn), Some(mx), _, _)) => f(mn, mx)
        case _ => true
      }
    def inRange(a: AttributeReference, l: Literal): Boolean =
      litNorm(l).fold(true)(v => bounds(a) { (mn, mx) =>
        cmp(mn, v).fold(true)(_ <= 0) && cmp(mx, v).fold(true)(_ >= 0)
      })
    conjunct match {
      case EqualTo(a: AttributeReference, l: Literal) => inRange(a, l)
      case EqualTo(l: Literal, a: AttributeReference) => inRange(a, l)
      case EqualNullSafe(a: AttributeReference, l: Literal) =>
        if (l.value == null) st(a).forall(s => s.nulls != 0) else inRange(a, l)
      case EqualNullSafe(l: Literal, a: AttributeReference) =>
        if (l.value == null) st(a).forall(s => s.nulls != 0) else inRange(a, l)
      case LessThan(a: AttributeReference, l: Literal) =>
        litNorm(l).fold(true)(v => bounds(a)((mn, _) => cmp(mn, v).fold(true)(_ < 0)))
      case LessThan(l: Literal, a: AttributeReference) => // v < a ⇔ a > v
        litNorm(l).fold(true)(v => bounds(a)((_, mx) => cmp(mx, v).fold(true)(_ > 0)))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        litNorm(l).fold(true)(v => bounds(a)((mn, _) => cmp(mn, v).fold(true)(_ <= 0)))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        litNorm(l).fold(true)(v => bounds(a)((_, mx) => cmp(mx, v).fold(true)(_ >= 0)))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        litNorm(l).fold(true)(v => bounds(a)((_, mx) => cmp(mx, v).fold(true)(_ > 0)))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        litNorm(l).fold(true)(v => bounds(a)((mn, _) => cmp(mn, v).fold(true)(_ < 0)))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        litNorm(l).fold(true)(v => bounds(a)((_, mx) => cmp(mx, v).fold(true)(_ >= 0)))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        litNorm(l).fold(true)(v => bounds(a)((mn, _) => cmp(mn, v).fold(true)(_ <= 0)))
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v => inRange(a, v.asInstanceOf[Literal]))
      case IsNull(a: AttributeReference) => st(a).forall(s => s.nulls != 0)
      case IsNotNull(a: AttributeReference) =>
        st(a).forall(s => !(s.min.isEmpty && s.nulls >= 0 && s.nulls == s.rows && s.rows > 0))
      case _ => true
    }
  }

  // -------------------------------------------------------------------
  // The FileIndex
  // -------------------------------------------------------------------

  /** A [[FileIndex]] that delegates listing to an [[InMemoryFileIndex]]
    * and drops files whose stats refute the pushed data filters.
    * `lastTotal`/`lastSelected` expose the most recent pruning decision
    * for gates and diagnostics.
    */
  final class StatsFileIndex(spark: SparkSession, schema: StructType,
                             dirs: Seq[String]) extends FileIndex {
    private val inner = new InMemoryFileIndex(
      spark, dirs.map(new Path(_)), Map.empty[String, String], Some(schema))
    // keyed by scheme-less absolute path
    private val stats: Map[String, FileStats] = dirs.flatMap { d =>
      loadStats(spark, d).map(fs =>
        new Path(new Path(d), fs.name).toUri.getPath -> fs)
    }.toMap
    // per-file Bloom filters (point-lookup pruning); absent sidecar = empty
    private val blooms: Map[String, Map[String, graft.functions.QBloom.Filter]] =
      dirs.flatMap { d =>
        loadBlooms(spark, d).map { case (name, fb) =>
          new Path(new Path(d), name).toUri.getPath -> fb
        }
      }.toMap

    @volatile var lastTotal: Int = -1
    @volatile var lastSelected: Int = -1

    override def rootPaths: Seq[Path] = inner.rootPaths
    override def inputFiles: Array[String] = inner.inputFiles
    override def refresh(): Unit = inner.refresh()
    override def sizeInBytes: Long = inner.sizeInBytes
    override def partitionSchema: StructType = inner.partitionSchema

    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val conjuncts = dataFilters.flatMap(splitConjuncts)
      val listed = inner.listFiles(partitionFilters, dataFilters)
      val pruned = listed.map { pd =>
        PartitionDirectory(pd.values, pd.files.filter { f =>
          val p = f.getPath.toUri.getPath
          stats.get(p)
            .forall(fs => conjuncts.forall(c => mayMatch(fs, c))) &&
            blooms.get(p)
              .forall(fb => conjuncts.forall(c => bloomMayMatch(fb, c)))
        })
      }
      lastTotal = listed.map(_.files.size).sum
      lastSelected = pruned.map(_.files.size).sum
      pruned
    }

    // identity = the dirs scanned, mirroring InMemoryFileIndex: two
    // reads of the same immutable dirs are the same relation, so plan
    // canonicalization (and the result cache keyed on it) is stable
    // across instances — stats only ever REMOVE files from a listing,
    // never change what the relation denotes
    override def equals(other: Any): Boolean = other match {
      case s: StatsFileIndex => rootPaths.toSet == s.rootPaths.toSet
      case _ => false
    }
    override def hashCode(): Int = rootPaths.toSet.hashCode()
  }

  /** Read parquet dirs through the skipping index. Returns the frame
    * plus the index (for pruning introspection). Partitioned dirs
    * (`dt=…` subdirs) surface their partition column after the data
    * columns, exactly like a plain partitioned read; partition-column
    * predicates prune whole subdirs (Spark's partition pruning) while
    * data-column predicates prune FILES through the stats. Dirs with
    * CONFLICTING partition structure must go through separate calls
    * (same contract as any multi-root Spark read).
    */
  def readWithIndex(spark: SparkSession, schema: StructType,
                    dirs: Seq[String]): (DataFrame, StatsFileIndex) = {
    val idx = new StatsFileIndex(spark, schema, dirs)
    val rel = HadoopFsRelation(idx, idx.partitionSchema, schema, None,
      new ParquetFileFormat, Map.empty[String, String])(spark)
    (spark.baseRelationToDataFrame(rel), idx)
  }

  def read(spark: SparkSession, schema: StructType, dirs: Seq[String]): DataFrame =
    readWithIndex(spark, schema, dirs)._1
}

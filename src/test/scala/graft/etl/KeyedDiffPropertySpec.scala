package graft.etl

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import graft.TestSpark
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Every consumer of the keyed diff — `Scd1.mergeTagged`, `mergeAudit`
  * in both modes, `changedKeyBuckets` in both modes, `Scd3.merge`,
  * `Scd2.merge` / `applyChanges` and `ChangeFeed.diffStruct` — checked
  * against an independent in-memory `Map` model of insert / update /
  * delete / unchanged on random dims and sources: null↔value flips,
  * empty dim or source sides, change rows that delete absent keys, and
  * a key-only table.
  */
class KeyedDiffPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private type Vals = (Option[String], Option[Int])
  private case class DimRec(v: Vals, prev: Vals, createDt: Timestamp,
                            updateDt: Option[Timestamp], processedDt: Timestamp)
  private case class SrcRec(v: Vals, createDt: Timestamp, updateDt: Option[Timestamp])
  private case class Case(dim: Map[String, DimRec], src: Map[String, SrcRec],
                          changes: Seq[(String, String, Vals)])
  private type KeyCase = (String, Option[DimRec], Option[SrcRec], List[(String, String, Vals)])

  private def ts(s: String) = Timestamp.valueOf(s)
  private val (asOf0, asOf1) = (ts("2021-03-01 00:00:00"), ts("2021-03-02 00:00:00"))
  private val runTs = ts("2021-03-02 23:55:00")
  private val nBuckets = 4

  private val valsGen: Gen[Vals] =
    Gen.zip(Gen.option(Gen.oneOf("x", "y")), Gen.option(Gen.oneOf(0, 1)))
  private val tsGen = Gen.oneOf(ts("2021-02-01 00:00:00"), ts("2021-02-15 12:00:00"))
  /** One compared column turned null→value or value→null. */
  private def flip(v: Vals): Gen[Vals] = Gen.oneOf(
    Gen.option(Gen.const("x")).map(a => (if (v._1.isEmpty) a.orElse(Some("x")) else None, v._2)),
    Gen.option(Gen.const(1)).map(b => (v._1, if (v._2.isEmpty) b.orElse(Some(1)) else None)))
  /** A source image of a key the dim holds as `dim`: same, flipped or fresh. */
  private def nextVals(dim: Option[Vals]): Gen[Vals] = dim match {
    case Some(v) => Gen.frequency(3 -> Gen.const(v), 3 -> flip(v), 2 -> valsGen)
    case None => valsGen
  }

  private def keyCaseGen(k: String): Gen[KeyCase] = for {
    dim <- Gen.option(for {
      v <- valsGen; prev <- valsGen; c <- tsGen; u <- Gen.option(tsGen); p <- tsGen
    } yield DimRec(v, prev, c, u, p))
    src <- Gen.frequency(1 -> Gen.const(None), 3 -> (for {
      v <- nextVals(dim.map(_.v)); c <- tsGen; u <- Gen.option(tsGen)
    } yield Some(SrcRec(v, c, u))))
    chg <- Gen.frequency(
      3 -> Gen.const(Nil),
      3 -> nextVals(dim.map(_.v)).map(v => List((if (dim.isEmpty) "insert" else "update_post", k, v))),
      1 -> valsGen.map(v => List(("delete", k, v))),
      1 -> Gen.zip(valsGen, nextVals(dim.map(_.v)))
        .map { case (pre, post) => List(("update_pre", k, pre), ("update_post", k, post)) })
  } yield (k, dim, src, chg)

  private val caseGen: Gen[Case] = for {
    perKey <- Gen.sequence[List[KeyCase], KeyCase]((0 until 8).map(i => keyCaseGen(s"k$i")))
    side <- Gen.frequency(6 -> "both", 1 -> "no dim", 1 -> "no source")
  } yield Case(
    if (side == "no dim") Map.empty else perKey.flatMap(r => r._2.map(r._1 -> _)).toMap,
    if (side == "no source") Map.empty else perKey.flatMap(r => r._3.map(r._1 -> _)).toMap,
    perKey.flatMap(_._4))

  private val valSchema = Seq(StructField("k", StringType), StructField("a", StringType),
    StructField("b", IntegerType))
  private def tsField(n: String) = StructField(n, TimestampType)
  private def frame(fields: Seq[StructField], rows: Iterable[Row]): DataFrame =
    spark.createDataFrame(rows.toSeq.asJava, StructType(fields))
  private def cells(v: Vals): Seq[Any] = Seq(v._1.orNull, v._2.map(Int.box).orNull)

  private def dimDf(c: Case) = frame(
    valSchema ++ Seq(StructField("prev_a", StringType), StructField("prev_b", IntegerType),
      tsField("create_dt"), tsField("update_dt"), tsField("processed_dt")),
    c.dim.map { case (k, d) =>
      Row.fromSeq(k +: (cells(d.v) ++ cells(d.prev) ++
        Seq(d.createDt, d.updateDt.orNull, d.processedDt)))
    })
  private def srcDf(c: Case) = frame(valSchema ++ Seq(tsField("create_dt"), tsField("update_dt")),
    c.src.map { case (k, s) => Row.fromSeq(k +: (cells(s.v) ++ Seq(s.createDt, s.updateDt.orNull))) })
  private def changeDf(c: Case) = frame(StructField("change_type", StringType) +: valSchema,
    c.changes.map { case (t, k, v) => Row.fromSeq(Seq(t, k) ++ cells(v)) })

  /** The model's action for a full-snapshot diff of `c.src` against `c.dim`. */
  private def snapAction(c: Case, k: String): String = (c.dim.get(k), c.src.get(k)) match {
    case (Some(_), None) => "delete"
    case (None, _) => "insert"
    case (Some(d), Some(s)) => if (d.v == s.v) "unchanged" else "update"
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] = {
    val rows = df.collect().map(_.toSeq).toSeq
    assert(rows.distinct.length == rows.length, s"duplicate rows: $rows")
    rows.toSet
  }
  private def bucketsOf(keys: Iterable[String]): Seq[Int] =
    frame(Seq(StructField("k", StringType)), keys.map(Row(_)))
      .select(Warehouse.bucketOf(Seq(col("k")), nBuckets)).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq

  private def mergeAuditDelta(dim: DataFrame, delta: DataFrame): DataFrame =
    Scd1.mergeAudit(dim, delta, Seq("k"), Seq("a", "b"), runTs, deletesVisible = false)

  private def check(c: Case): Unit = {
    val (dim, src) = (dimDf(c), srcDf(c))
    val allKeys = c.dim.keySet ++ c.src.keySet
    val cmp = Seq("a", "b")

    assert(rowSet(Scd1.mergeTagged(dim, src, Seq("k"), cmp)) ==
      c.src.map { case (k, s) => k +: cells(s.v) :+ snapAction(c, k) }.toSet, "mergeTagged")

    def audited(k: String, s: SrcRec): Seq[Any] = Seq(k) ++ cells(s.v) ++ (snapAction(c, k) match {
      case "insert" => Seq(s.updateDt.getOrElse(s.createDt), null, runTs)
      case "update" => Seq(c.dim(k).createDt, s.updateDt.orNull, runTs)
      case _ => val d = c.dim(k); Seq(d.createDt, d.updateDt.orNull, d.processedDt)
    })
    val snapImage = c.src.map { case (k, s) => audited(k, s) }.toSet
    assert(rowSet(Scd1.mergeAudit(dim, src, Seq("k"), cmp, runTs)) == snapImage,
      "mergeAudit, full snapshot")
    val kept = (c.dim -- c.src.keySet).map { case (k, d) =>
      Seq(k) ++ cells(d.v) ++ Seq(d.createDt, d.updateDt.orNull, d.processedDt)
    }
    assert(rowSet(mergeAuditDelta(dim, src)) == snapImage ++ kept, "mergeAudit, delta")

    val changed = allKeys.filter(snapAction(c, _) != "unchanged")
    assert(Scd1.changedKeyBuckets(dim, src, Seq("k"), cmp, nBuckets, deletesVisible = true)
      .toSeq == bucketsOf(changed), "changedKeyBuckets, deletes visible")
    assert(Scd1.changedKeyBuckets(dim, src, Seq("k"), cmp, nBuckets, deletesVisible = false)
      .toSeq == bucketsOf(changed.filter(c.src.contains)), "changedKeyBuckets, delta")

    assert(rowSet(Scd3.merge(dim, src, Seq("k"), cmp)) == c.src.map { case (k, s) =>
      c.dim.get(k) match {
        case None => Seq(k) ++ cells(s.v) ++ Seq(null, null, "insert")
        case Some(d) =>
          val prev = (if (s.v._1 != d.v._1) d.v._1 else d.prev._1,
            if (s.v._2 != d.v._2) d.v._2 else d.prev._2)
          Seq(k) ++ cells(s.v) ++ cells(prev) :+ snapAction(c, k)
      }
    }.toSet, "Scd3.merge")

    // SCD2: a one-version history per dim key, then one load at asOf1
    val history = Scd2.initial(dim, Seq("k"), cmp, asOf0)
    def open(k: String, v: Vals, from: Timestamp) = Seq(k) ++ cells(v) ++ Seq(from, null, true)
    def closed(k: String, v: Vals) = Seq(k) ++ cells(v) ++ Seq(asOf0, asOf1, false)
    def load(k: String, before: Option[Vals], after: Option[Vals]): Seq[Seq[Any]] =
      (before, after) match {
        case (Some(b), None) => Seq(closed(k, b))
        case (None, Some(a)) => Seq(open(k, a, asOf1))
        case (Some(b), Some(a)) if a == b => Seq(open(k, b, asOf0))
        case (Some(b), Some(a)) => Seq(closed(k, b), open(k, a, asOf1))
        case (None, None) => Nil
      }
    assert(rowSet(Scd2.merge(history, src, Seq("k"), cmp, asOf1)) ==
      allKeys.flatMap(k => load(k, c.dim.get(k).map(_.v), c.src.get(k).map(_.v))),
      "Scd2.merge")
    val post = c.changes.filter(_._1 != "update_pre").map(r => r._2 -> r).toMap
    assert(rowSet(Scd2.applyChanges(history, changeDf(c), Seq("k"), cmp, asOf1)) ==
      (c.dim.keySet ++ post.keySet).flatMap { k =>
        val before = c.dim.get(k).map(_.v)
        load(k, before, post.get(k) match {
          case Some(("delete", _, _)) => None
          case Some((_, _, v)) => Some(v)
          case None => before
        })
      }, "Scd2.applyChanges")

    def image(v: Option[Vals]) = v.map(x => Row.fromSeq(cells(x))).orNull
    assert(rowSet(ChangeFeed.diffStruct(dim.select("k", "a", "b"), src.select("k", "a", "b"),
        Seq("k"))) == changed.map { k =>
      Seq(k, snapAction(c, k), image(c.dim.get(k).map(_.v)), image(c.src.get(k).map(_.v)))
    }, "ChangeFeed.diffStruct")
    def present(in: Boolean) = if (in) Row(true) else null
    assert(rowSet(ChangeFeed.diffStruct(dim.select("k"), src.select("k"), Seq("k"))) ==
      allKeys.filter(k => c.dim.contains(k) != c.src.contains(k)).map { k =>
        Seq(k, if (c.dim.contains(k)) "delete" else "insert",
          present(c.dim.contains(k)), present(c.src.contains(k)))
      }, "ChangeFeed.diffStruct, key-only")
  }

  test("property: every keyed-diff consumer matches a Map model of the four actions") {
    val prop = Prop.forAll(caseGen) { c => check(c); true }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}

package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import graft.engine.Schemas

/** Seeded generator for the WINS workload: the five reference feature
  * classes plus the WATER_POD_TABLE dimension, in the [[Schemas]] shapes,
  * with fixed shares of the FIXTURES.md §B edge rows planted in every tag
  * column:
  *
  *  - '' tags and NULL tags (both become NULL before the QA rules run);
  *  - RV%, RS% and other tag prefixes;
  *  - duplicate tags (groups of 2 and 3 rows);
  *  - tags with 0, 1 and 2+ POD matches;
  *  - duplicate PNTS_CODE rows in the dimension, and codes no tag uses;
  *  - rows both QA rules hit (a duplicate group whose tag has no POD match).
  *
  * Geometry is opaque WKB of varied length (points, lines, polygons).
  * Everything derives from `seed`: the same seed gives identical rows. */
object WinsGen {

  final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row])

  /** The rules one feature class runs through (SURVEY §3.3, PipelineSpec). */
  final case class Spec(
      name: String, schema: StructType, tagCol: Option[String],
      qa: Boolean, geom: Int)

  val Rrr = Spec("RESERVES_AND_RESTRICTIONS", Schemas.reservesAndRestrictions,
    Some("TRRR_TAG"), qa = true, geom = 2)
  val Nth = Spec("NON_TRIM_HYDROGRAPHY", Schemas.nonTrimHydrography,
    Some("TNTH_TAG"), qa = true, geom = 1)
  val WrkPoints = Spec("WATER_LICENSED_WORKS_POINTS", Schemas.waterLicensedWorksPoints,
    Some("TWRK_TAG"), qa = false, geom = 0)
  val WrkLines = Spec("WATER_LICENSED_WORKS_LINES", Schemas.waterLicensedWorksLines,
    Some("TWRK_TAG"), qa = false, geom = 1)
  val Flooded = Spec("FLOODED_AREA_LINES", Schemas.floodedAreaLines,
    None, qa = false, geom = 1)
  val specs: Seq[Spec] = Seq(Rrr, Nth, WrkPoints, WrkLines, Flooded)
  val PodName = "WATER_POD_TABLE"

  def dupReason(tag: String) = s"Duplicate $tag"
  def refReason(tag: String) = s"$tag not found in Water POD Table"

  /** Shares of each tag category, in percent of a table's rows. The rest
    * are unique tags with exactly one POD match. The shares are chosen, not
    * measured: no WINS row counts or edge-row shares are known here. At
    * 5,000 rows per table the smallest share still plants 100 rows of its
    * case in every tag column. */
  private val blankPct = 3
  private val nullPct = 2
  private val dupPct = 10
  private val noMatchPct = 8
  private val multiMatchPct = 8
  private val dupNoMatchPct = 4

  final case class Inputs(tables: Seq[Table], pod: Table) {
    def all: Seq[Table] = tables :+ pod
  }

  /** Kept rows and rejects per reason, per feature class. */
  final case class Truth(kept: Map[String, Long], rejects: Map[String, Map[String, Long]])

  def generate(seed: Long, rowsPerTable: Int): Inputs = {
    val rnd = new scala.util.Random(seed)
    val podRows = IndexedSeq.newBuilder[Row]
    var nextCode = 0
    val prefixes = Array("RV", "RS", "XX", "TP")
    def newCode(): String = {
      nextCode += 1
      f"${prefixes(rnd.nextInt(prefixes.length))}$nextCode%07d"
    }
    def addPod(code: String, copies: Int): Unit =
      (0 until copies).foreach { c =>
        podRows += Row(code, s"$code descr $c",
          if (rnd.nextInt(5) == 0) null else if (rnd.nextBoolean()) "Y" else "N")
      }
    def geometry(kind: Int): Array[Byte] = {
      val pts = kind match {
        case 0 => 1
        case 1 => 2 + rnd.nextInt(12)
        case _ => 4 + rnd.nextInt(20)
      }
      val header = if (kind == 0) 5 else if (kind == 1) 9 else 13
      val bb = java.nio.ByteBuffer.allocate(header + 16 * pts)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(1.toByte).putInt(kind + 1)
      if (kind == 1) bb.putInt(pts)
      if (kind == 2) bb.putInt(1).putInt(pts)
      (0 until pts).foreach { _ =>
        bb.putDouble(-139 + rnd.nextDouble() * 25).putDouble(48 + rnd.nextDouble() * 12)
      }
      bb.array()
    }
    def text(): String =
      if (rnd.nextInt(10) == 0) null else s"feature ${rnd.nextInt(100000)}"
    def featureCode(): String =
      if (rnd.nextInt(8) == 0) "" else f"FC${rnd.nextInt(10000)}%06d"

    // tag values per row, category shares fixed, order shuffled by the seed
    def tags(n: Int): IndexedSeq[String] = {
      def share(p: Int) = n * p / 100
      val out = IndexedSeq.newBuilder[String]
      (0 until share(blankPct)).foreach(_ => out += "")
      (0 until share(nullPct)).foreach(_ => out += null)
      def groups(rows: Int, matched: Boolean): Unit = {
        var left = rows
        while (left > 0) {
          val g = math.min(left, 2 + rnd.nextInt(2))
          val code = newCode()
          if (matched) addPod(code, 1)
          (0 until g).foreach(_ => out += code)
          left -= g
        }
      }
      groups(share(dupPct), matched = true)
      groups(share(dupNoMatchPct), matched = false)
      (0 until share(noMatchPct)).foreach(_ => out += newCode())
      (0 until share(multiMatchPct)).foreach { _ =>
        val c = newCode(); addPod(c, 2 + rnd.nextInt(2)); out += c
      }
      val used = share(blankPct) + share(nullPct) + share(dupPct) +
        share(dupNoMatchPct) + share(noMatchPct) + share(multiMatchPct)
      (0 until n - used).foreach { _ =>
        val c = newCode(); addPod(c, 1); out += c
      }
      rnd.shuffle(out.result())
    }

    val tables = specs.map { s =>
      val tagVals = s.tagCol.map(_ => tags(rowsPerTable))
      val rows = (0 until rowsPerTable).map { i =>
        val tag = tagVals.map(_(i))
        val values: Seq[Any] = s.schema.fieldNames.toSeq.map {
          case c if s.tagCol.contains(c) => tag.get
          case "FEATURE_CODE" => featureCode()
          case "SHAPE" => geometry(s.geom)
          case _ => text()
        }
        Row.fromSeq(values)
      }
      Table(s.name, s.schema, rows)
    }
    // dimension codes no tag references
    (0 until math.max(1, rowsPerTable / 20)).foreach(_ => addPod(newCode(), 1))
    Inputs(tables, Table(PodName, Schemas.waterPodTable, rnd.shuffle(podRows.result())))
  }

  /** Expected QA outcome, derived from the generated rows by the rules
    * themselves rather than from the planted categories: '' becomes NULL;
    * rule 1 rejects every row whose tag occurs more than once (the engine's
    * window count puts all NULL tags in one group, so two or more blank or
    * NULL tags are duplicates); rule 2 rejects surviving rows whose tag is
    * NULL or absent from the POD codes. */
  def truth(in: Inputs): Truth = {
    val podCodes = in.pod.rows.map(_.getString(0)).toSet
    val perTable = in.tables.zip(specs).map { case (t, s) =>
      s.tagCol.filter(_ => s.qa) match {
        case None => (t.name, t.rows.size.toLong, Map.empty[String, Long])
        case Some(tc) =>
          val idx = t.schema.fieldIndex(tc)
          val tags = t.rows.map(r => Option(r.getString(idx)).filter(_.nonEmpty))
          val freq = tags.groupBy(identity).map { case (k, v) => k -> v.size }
          val dup = tags.count(freq(_) > 1).toLong
          val ref = tags.count(x => freq(x) == 1 && !x.exists(podCodes)).toLong
          val reasons = Map(dupReason(tc) -> dup, refReason(tc) -> ref).filter(_._2 > 0)
          (t.name, t.rows.size - dup - ref, reasons)
      }
    }
    Truth(perTable.map(x => x._1 -> x._2).toMap, perTable.map(x => x._1 -> x._3).toMap)
  }
}

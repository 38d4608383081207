package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WinsGenSpec extends AnyFunSuite {

  /** Every generated row as canonical bytes, table by table. */
  private def bytes(in: WinsGen.Inputs): Array[Byte] =
    in.all.map(t => t.name + "\n" + t.rows.map(RowHash.canon).mkString("\n"))
      .mkString("\n\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)

  test("the same seed gives byte-identical inputs") {
    val a = WinsGen.generate(7L, 2000)
    val b = WinsGen.generate(7L, 2000)
    assert(java.util.Arrays.equals(bytes(a), bytes(b)))
    assert(WinsGen.truth(a) == WinsGen.truth(b))
  }

  test("a different seed gives different inputs") {
    val a = WinsGen.generate(7L, 2000)
    val b = WinsGen.generate(8L, 2000)
    assert(!java.util.Arrays.equals(bytes(a), bytes(b)))
    a.tables.zip(b.tables).foreach { case (x, y) => assert(x.rows != y.rows, x.name) }
  }

  test("every FIXTURES §B edge case is planted in each QA'd table") {
    val in = WinsGen.generate(3L, 2000)
    val podCodes = in.pod.rows.map(_.getString(0))
    val podCount = podCodes.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(podCount.values.exists(_ > 1), "duplicate PNTS_CODE rows")
    in.tables.zip(WinsGen.specs).filter(_._2.qa).foreach { case (t, s) =>
      val idx = t.schema.fieldIndex(s.tagCol.get)
      val tags = t.rows.map(r => Option(r.getString(idx)))
      val present = tags.flatten.filter(_.nonEmpty)
      val freq = present.groupBy(identity).map { case (k, v) => k -> v.size }
      assert(tags.contains(Some("")), s"${t.name}: '' tags")
      assert(tags.contains(None), s"${t.name}: NULL tags")
      assert(present.exists(_.startsWith("RV")) && present.exists(_.startsWith("RS")) &&
        present.exists(x => !x.startsWith("RV") && !x.startsWith("RS")), s"${t.name}: prefixes")
      assert(freq.values.exists(_ > 1), s"${t.name}: duplicate tags")
      val matches = present.distinct.map(podCount.getOrElse(_, 0))
      assert(Set(0, 1).subsetOf(matches.toSet) && matches.exists(_ >= 2),
        s"${t.name}: 0, 1 and 2+ POD matches")
      assert(freq.exists { case (tag, n) => n > 1 && !podCount.contains(tag) },
        s"${t.name}: rows both QA rules hit")
    }
    assert(podCodes.toSet.diff(in.tables.flatMap(_.rows.flatMap(_.toSeq.collect {
      case s: String => s
    })).toSet).nonEmpty, "POD codes no tag uses")
  }

  test("truth follows the rules: blank and NULL tags are one duplicate group") {
    val in = WinsGen.generate(5L, 1000)
    val truth = WinsGen.truth(in)
    val rrr = WinsGen.Rrr.name
    // 3% '' + 2% NULL = 50 rows sharing the NULL key
    val rejects = truth.rejects(rrr)
    assert(rejects(WinsGen.dupReason("TRRR_TAG")) >= 50)
    assert(truth.kept(rrr) + rejects.values.sum == 1000)
    // tables without QA keep every row
    assert(truth.kept(WinsGen.Flooded.name) == 1000)
    assert(truth.rejects(WinsGen.WrkPoints.name).isEmpty)
  }
}

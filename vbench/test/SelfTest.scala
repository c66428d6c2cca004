package vbench

/** The benchmark's own checks: `python3 vbench/run.py --self-test`. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => println(s"  $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("percentile interpolates between order statistics") {
      Stats.median(xs) == 50.5 && math.abs(Stats.percentile(xs, 90) - 90.1) < 1e-9 &&
        Stats.percentile(Seq(3.0), 90) == 3.0 && Stats.median(Seq(4.0, 1.0)) == 2.5
    }
    check("iqm averages the middle half and generalises the median") {
      Stats.iqm(Seq(5.0)) == 5.0 && Stats.iqm(Seq(1.0, 3.0)) == 2.0 &&
        Stats.iqm(Seq(9.0, 1.0, 2.0)) == 2.0 && Stats.iqm(Seq(1.0, 2.0, 4.0, 100.0)) == 3.0 &&
        Stats.iqm(Seq(1.0, 2.0, 2.0, 3.0, 3.0, 4.0, 50.0, 60.0)) == 3.0
    }
    check("geomean weighs every sample's relative change equally") {
      math.abs(Stats.geomean(Seq(2.0, 8.0)) - 4.0) < 1e-12 &&
        math.abs(Stats.geomean(Seq(2.0, 16.0)) / Stats.geomean(Seq(4.0, 8.0)) - 1) < 1e-12
    }
    check("tail is the highest percentile with ten samples beyond it") {
      Stats.tail(99).isEmpty && Stats.tail(100).contains(90.0) &&
        Stats.tail(999).contains(90.0) && Stats.tail(1000).contains(99.0) &&
        Stats.tail(10000).contains(99.9)
    }

    def corpus(seed: Long): String = {
      val g = new Gen(seed)
      Gen.message((0L until 120L).map(g.doc)) + g.queries(5).mkString("|")
    }
    check("same seed gives byte-identical messages") {
      java.util.Arrays.equals(corpus(7).getBytes("UTF-8"), corpus(7).getBytes("UTF-8"))
    }
    check("a different seed gives different messages") {
      corpus(7) != corpus(8)
    }
    check("messages parse as the reference's full embed message") {
      val m = Gen.message(Seq(Gen.Doc(3, "ka lo", 1, 2)))
      m == """{"collection": "bench", "documents": ["ka lo"], "metadatas": [{"topic": "1", "shard": "2"}], "ids": ["3"]}"""
    }

    check("self time subtracts the union of overlapping children") {
      val root = Span(0, -1, 0, "op", 0, 100)
      val kids = Seq(Span(1, 0, 0, "a", 10, 40), Span(2, 0, 0, "b", 30, 60),
        Span(3, 0, 0, "c", 90, 120))
      // covered: [10, 60) and [90, 100) = 60
      Spans.selfNs(root, kids) == 40 && Spans.selfNs(root, Nil) == 100 &&
        Spans.unionNs(Seq((5L, 8L), (1L, 3L), (2L, 4L)), 0, 10) == 6
    }

    val keys = graft.SparkEntry.queries.keys.toSeq
    check(s"every registry key (${keys.length}) has a family") {
      keys.length == 215 && keys.forall(k => Families.of(k).isDefined) &&
        (Families.Named :+ "other").forall(f => keys.exists(k => Families.of(k).contains(f)))
    }

    check(s"the timed registry keys (${Registry.Keys.length}) are registry keys of distinct families") {
      Registry.Keys.forall(keys.contains) &&
        Registry.Keys.flatMap(Families.of).distinct.length == Registry.Keys.length
    }

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}

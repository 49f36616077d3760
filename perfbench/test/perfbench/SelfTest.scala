package perfbench

/** Tests of the benchmark's own code (no Spark session needed):
  * `python3 perfbench/run.py --self-test`.
  */
object SelfTest {

  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def expect(cond: Boolean, what: => String): Unit = if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    test("generator is deterministic per seed") {
      for (spec <- Workload.specs.values) {
        val a = Workload.generate(spec, 7)
        val b = Workload.generate(spec, 7)
        val c = Workload.generate(spec, 8)
        def flat(f: Feed) = (f.typeName, f.items.map(_.json).toSeq, f.horizons.toSeq)
        expect(flat(a) == flat(b), s"${spec.name}: same seed, different feeds")
        expect(flat(a) != flat(c), s"${spec.name}: different seeds, same feeds")
      }
    }

    test("feeds are time-ordered and split into whole passes of pages") {
      for (spec <- Workload.specs.values) {
        val f = Workload.generate(spec, 3)
        expect(f.ts.indices.drop(1).forall(i => f.ts(i) > f.ts(i - 1)), s"${f.typeName}: updatedOnMs not increasing")
        if (spec.backfill)
          expect(f.horizons.toSeq == Seq(0, Workload.passItems(spec) + 1), s"${f.typeName}: backfill history")
        else expect(f.horizons.sliding(2).forall { case Array(a, b) => b - a == Workload.passItems(spec) },
          s"${f.typeName}: pass sizes")
        expect(f.horizons.head == spec.stateSize && f.horizons.last == f.items.length, "horizon bounds")
      }
    }

    test("incremental stream has the seeded new/changed/unchanged mix") {
      val spec = Workload.specs("incremental")
      val f = Workload.generate(spec, 11)
      val seen = scala.collection.mutable.HashMap.empty[String, String]
      f.items.take(spec.stateSize).foreach(i => seen(i.id) = i.content)
      var fresh, changed, same = 0
      f.items.drop(spec.stateSize).foreach { i =>
        seen.get(i.id) match {
          case None => fresh += 1
          case Some(c) if c != i.content => changed += 1
          case _ => same += 1
        }
        seen(i.id) = i.content
      }
      val n = (fresh + changed + same).toDouble
      expect(math.abs(fresh / n - Workload.NewShare) < 0.005 && math.abs(changed / n - Workload.ChangedShare) < 0.01,
        s"mix new=${fresh / n} changed=${changed / n}")
    }

    test("oracle reproduces the two-page pipeline case (fetched 3/2, emitted 3/1, checkpoint 30)") {
      final case class E(id: String, x: String, ts: Long)
      val o = new Oracle[E](_.id, _.ts, _.x)
      val p1 = Seq(E("1", "a", 10), E("2", "b", 20), E("3", "c", 20))
      val p2 = Seq(E("3", "c", 20), E("4", "d", 30))
      val e1 = o.page(1, p1, partial = true)
      expect(o.checkpoint == 20, s"checkpoint after page 1: ${o.checkpoint}")
      val e2 = o.page(20, p2, partial = false)
      expect(Seq(p1.size, p2.size) == Seq(3, 2), "fetched")
      expect(Seq(e1.size, e2.size) == Seq(3, 1), s"emitted ${e1.keySet} / ${e2.keySet}")
      expect(e2.keySet == Set("4"), "the re-fetched boundary item is suppressed")
      expect(o.checkpoint == 30 && o.state.size == 4, s"final checkpoint ${o.checkpoint}")
    }

    test("oracle: within-page newest version wins, stall-breaker, empty page, wrong checkpoint") {
      final case class E(id: String, x: String, ts: Long)
      val o = new Oracle[E](_.id, _.ts, _.x)
      val e = o.page(1, Seq(E("1", "new", 9), E("1", "old", 5), E(null, "z", 12)), partial = false)
      expect(e.values.map(_.x).toSeq == Seq("new") && o.checkpoint == 12, s"lww $e ${o.checkpoint}")
      expect(o.page(12, Seq(E("1", "new", 12)), partial = true).isEmpty && o.checkpoint == 13, "stall-breaker")
      expect(o.page(13, Nil, partial = false).isEmpty && o.checkpoint == 13, "empty page keeps the checkpoint")
      expect(scala.util.Try(o.page(99, Nil, partial = false)).isFailure, "a page from a wrong checkpoint fails")
    }

    test("span self time subtracts the union of children, clipped to the parent") {
      expect(Spans.covered(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 40, "covered")
      expect(Spans.covered(0, 100, Nil) == 0, "no children")
      val spans = Seq(
        Span(1, -1, "page", 0, 0, 100),
        Span(2, 1, "source.fetch", 0, 0, 10),
        Span(3, 1, "sink.send", 0, 20, 60),
        Span(4, 3, "sink.post", 0, 30, 40),
        Span(5, 3, "sink.post", 0, 35, 50),
        Span(6, 1, "state.commit", 0, 55, 80))
      val self = Spans.selfTimes(spans)
      expect(self == Map(1 -> 30L, 2 -> 10L, 3 -> 20L, 4 -> 10L, 5 -> 15L, 6 -> 25L), s"self $self")
    }

    test("layers are named after the module that launched the work") {
      expect(Spans.layerOf("json at EntityApiSource.scala:96") == "source.infer", "infer")
      expect(Spans.layerOf("foreachPartition at HttpBatchSink.scala:120") == "sink.send", "send")
      expect(Spans.layerOf("head at EntityStateStore.scala:52") == "state.checkpoint", "checkpoint")
      expect(Spans.layerOf("parquet at EntityStateStore.scala:131") == "state.commit", "commit")
      expect(Spans.layerOf("count at EntityEtlJob.scala:160") == "pipeline.count", "count")
    }

    test("target body parsing accepts JSON arrays of objects only") {
      expect(Loopback.splitArray("""[{"a": "x,}"},{"b": "y"}]""").map(_.toSeq) ==
        Some(Seq("""{"a": "x,}"}""", """{"b": "y"}""")), "two docs")
      expect(Loopback.splitArray("[]").map(_.length) == Some(0), "empty array")
      Seq("""{"a": 1}""", """[{"a": 1},]""", """[{"a": 1} {"b": 2}]""", """[1, 2]""", """[{"a": 1}""")
        .foreach(b => expect(Loopback.splitArray(b).isEmpty, s"accepted $b"))
      expect(Loopback.field("""{"aws_instance_id": "i-1", "x": "y"}""", "aws_instance_id") == "i-1", "field")
    }

    test("rendered documents match the entity template") {
      val item = Workload.generate(Workload.specs("incremental"), 5).items.head
      val doc = Workload.render(item.values)
      expect(Workload.Template.replaceAll("\\{\\{entity\\.([a-z_A-Z]+)\\}\\}", "<$1>") ==
        Workload.Keys.map(k => s""""$k": "<$k>"""").mkString("{", ", ", "}"), "template shape")
      expect(Loopback.field(doc, Workload.IdKey) == item.id, "id field")
    }

    test("quantiles interpolate linearly") {
      expect(Harness.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5, "median")
      expect(Harness.quantile(Seq(5.0), 0.99) == 5.0, "single")
      expect(math.abs(Harness.quantile((1 to 101).map(_.toDouble), 0.99) - 100.0) < 1e-9, "p99")
    }

    println(s"$passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}

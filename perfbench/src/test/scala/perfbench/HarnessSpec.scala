package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("median: odd, even, empty") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Nil).isNaN)
  }

  test("a tail percentile is reported only with ten samples beyond it") {
    assert(Stats.supportedPercentile(10).isEmpty)
    assert(Stats.supportedPercentile(99).isEmpty)
    assert(Stats.supportedPercentile(100).contains(0.9))
    assert(Stats.supportedPercentile(999).contains(0.9))
    assert(Stats.supportedPercentile(1000).contains(0.99))
    assert(Stats.supportedPercentile(10000).contains(0.999))
  }

  test("nearest-rank percentile and summary carry the sample count") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(Seq(7.0), 0.99) == 7.0)
    val s = Stats.summarize(xs)
    assert(s.n == 100 && s.median == 50.5 && s.tail.contains(0.9 -> 90.0))
    assert(Stats.summarize(Seq(1.0, 2.0)).tail.isEmpty)
  }

  test("self time: nested children are subtracted once") {
    // parent [0,100], child [10,40] with its own child [20,30]: only the
    // direct child's interval is the parent's concern
    assert(Tracer.selfTime(0, 100, Seq((10L, 40L))) == 70)
    assert(Tracer.selfTime(10, 40, Seq((20L, 30L))) == 20)
    assert(Tracer.selfTime(0, 100, Nil) == 100)
  }

  test("self time: overlapping and out-of-range children are unioned and clipped") {
    assert(Tracer.selfTime(0, 100, Seq((10L, 50L), (30L, 60L))) == 50)
    assert(Tracer.selfTime(0, 100, Seq((30L, 60L), (10L, 50L), (55L, 58L))) == 50)
    assert(Tracer.selfTime(0, 100, Seq((-20L, 10L), (90L, 130L))) == 80)
    assert(Tracer.selfTime(0, 100, Seq((0L, 100L), (20L, 30L))) == 0)
    assert(Tracer.selfTime(0, 100, Seq((200L, 300L))) == 100)
  }

  test("tracer records parent links, trace ids and self time") {
    val t = new Tracer()
    t.newTrace()
    t.span("job") {
      t.span("a") { Thread.sleep(5) }
      t.span("b") { t.span("c") { Thread.sleep(5) } }
    }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("a").parent.contains(byName("job").id))
    assert(byName("c").parent.contains(byName("b").id))
    assert(t.spans.forall(_.traceId == 1))
    assert(t.selfNs(byName("b")) < byName("b").durationNs)
    assert(t.seconds("job") >= t.seconds("a") + t.seconds("b"))
    assert(t.toJsonLines.size == 4)
  }

  test("block memory follows updates and unpersists, and its peak resets to the current") {
    import org.apache.spark.storage.RDDBlockId
    val m = new BlockMemory
    m.update("driver", RDDBlockId(1, 0), 100)
    m.update("driver", RDDBlockId(1, 1), 50)
    m.update("driver", RDDBlockId(2, 0), 30)
    m.update("driver", RDDBlockId(1, 0), 80)
    assert(m.current == 160 && m.peak == 180)
    m.update("driver", RDDBlockId(2, 0), 0)
    m.unpersist(1)
    assert(m.current == 0 && m.peak == 180)
    m.unpersist(7)
    m.resetPeak()
    m.update("driver", RDDBlockId(3, 0), 20)
    m.update("driver", RDDBlockId(3, 0), 0)
    assert(m.current == 0 && m.peak == 20)
  }

  test("digest ignores row order and last-digit float noise") {
    val a = Seq(Row(1L, "x", 0.1 + 0.2), Row(2L, "y", 1e-3))
    val b = Seq(Row(2L, "y", 0.001), Row(1L, "x", 0.3))
    assert(Digest.ofRows(a) == Digest.ofRows(b))
    assert(Digest.canonDouble(-0.0) == Digest.canonDouble(0.0))
    assert(Digest.canonDouble(123456789012.0) == "1.23456789E+11")
  }

  test("digest sees real changes, nesting and map order") {
    val base = Digest.ofRows(Seq(Row(1L, "x", 0.3)))
    assert(Digest.ofRows(Seq(Row(1L, "x", 0.31))) != base)
    assert(Digest.ofRows(Seq(Row(1L, "y", 0.3))) != base)
    assert(Digest.ofRows(Seq(Row(1L, "x", 0.3), Row(1L, "x", 0.3))) != base)
    val m1 = Row(Map("a" -> 1, "b" -> 2), Seq(Row(1.0f, null)))
    val m2 = Row(Map("b" -> 2, "a" -> 1), Seq(Row(1.0000000001f, null)))
    assert(Digest.canon(m1) == Digest.canon(m2))
    assert(Digest.canon(Row(Seq(1, 2))) != Digest.canon(Row(Seq(2, 1))))
    assert(Digest.canon(Row("a,b")) != Digest.canon(Row("a", "b")))
  }

  test("BENCHMARK.json lists exactly the metrics the harness prints") {
    val root = new java.io.File(sys.props("user.dir")).getParentFile
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(root, "BENCHMARK.json"))
    import scala.jdk.CollectionConverters._
    def list(k: String) = json.get(k).elements().asScala
      .map(n => n.get("name").asText -> n.get("unit").asText).toSeq
    assert(list("end_to_end") == Catalog.EndToEnd)
    assert(list("per_layer") == Catalog.perLayer(graft.SparkEntry.benchQueries.map(_.name)))
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Main.Workloads)
  }
}

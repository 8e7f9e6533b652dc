package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("perfbench-spec").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** SHA-256 over every input a seed generates for both workloads. */
  private def inputsDigest(seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
    val ts = Tsdb(seed, hosts = 6, days = 3, stepMin = 30)
    for (sd <- ts.series; (t, v) <- ts.samples(sd.idx, Gen.T0, ts.tEnd)) put(s"${sd.name} $t $v")
    for (h <- 0 until ts.hosts; t <- ts.eventTimes(h, Gen.T0, ts.tEnd)) put(s"${ts.eventName(h)} $t ${ts.eventBody(h, t)}")
    val docs = Docs(seed, 50)
    (0 until 50).foreach(i => put(docs.corpusText(i)))
    (0 until 30).foreach(c => put(docs.candText(c)))
    val vecs = Vectors(seed, 40)
    (0 until 40).foreach(i => put(vecs.stored(i).mkString(",") + vecs.query(i).mkString(",")))
    new Reads(ts, seed).cycle(null, vecs).foreach(s => put(s.json))
    md.digest().map("%02x".format(_)).mkString
  }

  test("the same seed gives byte-identical inputs; another seed gives different ones") {
    assert(inputsDigest(7) === inputsDigest(7))
    assert(inputsDigest(7) !== inputsDigest(8))
  }

  test("the Spark-side rows equal the generator's samples") {
    val ts = Tsdb(3, hosts = 4, days = 2, stepMin = 60)
    val got = ts.rowsDF(spark).collect().map(r =>
      (s"${r.getString(0)} dc=${r.getString(1)} host=${r.getString(2)}", r.getLong(3), r.getDouble(4))).toSet
    val want = (for (sd <- ts.series; (t, v) <- ts.samples(sd.idx, Gen.T0, ts.tEnd))
      yield (sd.name, t, v)).toSet
    assert(got === want)
  }

  test("planted duplicates and neighbours have distinct sources") {
    val docs = Docs(5, 400)
    assert((0 until 120).map(c => docs.candSource(c)).distinct.size === 120)
    val vecs = Vectors(5, 1000)
    assert((0 until 1000).map(q => vecs.querySource(q)).distinct.size === 1000)
  }

  test("nearest-rank percentiles and the samples beyond them") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Pct.median(xs) === 50.0)
    assert(Pct.of(xs, 0.9) === 90.0)
    assert(Pct.beyond(xs, 0.9) === 10)
    assert(Pct.of(Seq(3.0, 1.0, 2.0), 0.5) === 2.0)
    assert(Pct.of(Seq(4.0), 0.99) === 4.0)
    assert(Pct.median(Seq(2.0, 1.0)) === 1.0)
  }

  test("self time subtracts the union of the children's intervals") {
    val spans = Seq(
      Span(0, -1, "op", 0, 100),
      Span(1, 0, "a", 10, 30),
      Span(2, 0, "b", 20, 50), // overlaps a: union 10..50
      Span(3, 0, "c", 90, 120), // clipped to the parent: 90..100
      Span(4, 1, "a.child", 12, 14))
    val self = Tracer.selfTimes(spans)
    assert(self(0) === 100 - 40 - 10)
    assert(self(1) === 20 - 2)
    assert(self(2) === 30)
    assert(self(4) === 2)
  }

  test("the tracer nests spans under the enclosing one") {
    val tr = new Tracer
    tr.span("op") { tr.span("x")(()); tr.span("y")(tr.span("z")(())) }
    val byName = tr.all.map(s => s.name -> s).toMap
    assert(byName("op").parent === -1)
    assert(byName("x").parent === byName("op").id)
    assert(byName("z").parent === byName("y").id)
  }

  test("Spark work is attributed by job group, also across threads") {
    val sc = spark.sparkContext
    val l = GroupListener.install(sc)
    def query(): Unit = spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()
    Groups.tagged(sc, "one")(query())
    val threads = Seq("left" -> 3, "right" -> 2).map { case (g, n) =>
      new Thread(() => Groups.tagged(sc, g)((0 until n).foreach(_ => query())))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // a broadcast join submits a job from the program's own thread pool
    Groups.tagged(sc, "join") {
      import org.apache.spark.sql.functions.broadcast
      spark.range(100).join(broadcast(spark.range(10)), "id").collect()
    }
    GroupListener.drain(sc)
    val one = l.get(GroupListener.TagPrefix + "one")
    val left = l.get(GroupListener.TagPrefix + "left")
    val right = l.get(GroupListener.TagPrefix + "right")
    assert(one.jobs >= 1)
    assert(left.jobs === 3 * one.jobs && right.jobs === 2 * one.jobs)
    assert(left.tasks === 3 * one.tasks && right.tasks === 2 * one.tasks)
    assert(l.get(GroupListener.TagPrefix + "join").jobs >= 2,
      "the broadcast job must land in the group of the op that caused it")
    assert(l.get(GroupListener.None).jobs === 0)
    sc.removeSparkListener(l)
  }

  test("trace overhead is the share of op time inside bench.trace spans") {
    val spans = Seq(
      Span(0, -1, "op", 0, 100), Span(1, 0, "bench.trace", 10, 20),
      Span(2, -1, "op", 200, 300), Span(3, 2, "engine.exec", 200, 250),
      Span(4, 3, "bench.trace", 240, 250))
    assert(math.abs(Main.traceOverhead(spans) - 20.0 / 200) < 1e-12)
    assert(Main.traceOverhead(Nil) === 0.0)
  }

  test("row comparison tolerates only the stated relative error") {
    assert(Compare.rows(Seq(Vector("s", 1L, 1.0)), Seq(Vector("s", 1L, 1.0 + 1e-12))).isEmpty)
    assert(Compare.rows(Seq(Vector("s", 1L, 1.0)), Seq(Vector("s", 1L, 1.1))).nonEmpty)
    assert(Compare.rows(Seq(Vector("s", 1L, 1.0)), Seq(Vector("s", 2L, 1.0))).nonEmpty)
    assert(Compare.rows(Seq(Vector("s", 1L, 1.0)), Nil).nonEmpty)
  }
}

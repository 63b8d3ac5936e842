package perfbench

import java.security.MessageDigest

/** Checks of the harness itself; needs no Spark session.
  * `run.py --selftest` runs it and fails on a non-zero exit. */
object SelfTest {
  private var failures = 0
  private def expect(ok: Boolean, what: String): Unit = {
    println((if (ok) "ok   " else "FAIL ") + what)
    if (!ok) failures += 1
  }

  private def digest(shape: Shape, seed: Long): String = {
    val g = new Gen(shape, seed)
    val md = MessageDigest.getInstance("SHA-256")
    val l = Layout(100, 2000, 100, 29)
    for (i <- 0 until l.n) {
      val r = g.record(i, withBody = true)
      md.update(g.seq(r.shard, r.counter).getBytes("UTF-8"))
      md.update(g.shardNames(r.shard).getBytes("UTF-8"))
      md.update(r.body)
      md.update(java.nio.ByteBuffer.allocate(9).putLong(l.arrivalMs(i))
        .put((if (r.pass) 1 else 0).toByte).array())
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    for (shape <- Shapes.all) {
      expect(digest(shape, 7) == digest(shape, 7), s"${shape.name}: same seed, same inputs")
      expect(digest(shape, 7) != digest(shape, 8), s"${shape.name}: other seed, other inputs")
      val g = new Gen(shape, 11)
      val rs = Array.tabulate(20000)(g.record(_, withBody = true))
      expect(rs.indices.forall(i => g.record(i, withBody = false) ==
          rs(i).copy(body = null) && rs(i).bytes == rs(i).body.length),
        s"${shape.name}: metadata without bodies matches the written records")
      val seqs = rs.map(r => g.seq(r.shard, r.counter))
      expect(seqs.forall(s => s.length == 56 && s.forall(_.isDigit) && s.startsWith("49")),
        s"${shape.name}: 56-digit Kinesis-shaped sequence numbers")
      expect(rs.indices.groupBy(i => rs(i).shard).values.forall(ix =>
        ix.sliding(2).forall(p => p.size < 2 || Seqs.less(seqs(p(0)), seqs(p(1))))),
        s"${shape.name}: sequence numbers strictly increase per shard")
      val nonObj = rs.count(r => r.body(0) != '{' || r.body.last != '}').toDouble / rs.length
      expect(nonObj > 0.005 && nonObj < 0.02, f"${shape.name}: about 1%% non-object bodies ($nonObj%.4f)")
      val pass = rs.count(_.pass).toDouble / rs.length
      val mean = rs.map(_.body.length).sum.toDouble / rs.length
      expect(math.abs(mean - shape.payloadBytes) < shape.payloadBytes * 0.1,
        f"${shape.name}: mean body $mean%.0f B near ${shape.payloadBytes} B")
      val deflated = {
        val d = new java.util.zip.Deflater()
        val all = rs.take(2000).flatMap(_.body)
        d.setInput(all); d.finish()
        val buf = new Array[Byte](all.length)
        var n = 0
        while (!d.finished()) n += d.deflate(buf)
        n.toDouble / all.length
      }
      expect(deflated > 0.6, f"${shape.name}: bodies keep their entropy (deflate ratio $deflated%.2f)")
      val counts = rs.groupBy(_.shard).values.map(_.length)
      println(f"     ${shape.name}: pass fraction $pass%.3f, hottest shard ${counts.max.toDouble / rs.length}%.3f")
    }
    expect(Stats.percentile(Array(5.0, 1, 4, 2, 3), 50) == 3.0, "p50 of 1..5 is 3")
    val hundred = Array.tabulate(100)(i => (i + 1).toDouble)
    expect(Stats.percentile(hundred, 99) == 99.0 && Stats.percentile(hundred, 100) == 100.0,
      "nearest-rank p99 and p100 of 1..100")
    expect(Stats.median(Seq(4.0, 1, 3, 2)) == 2.5, "median of an even count averages the middle pair")
    expect(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L))) == 25,
      "union of overlapping intervals")
    // synthetic handler log: two batches; records 0..3 due at 0, 100, 200,
    // 300 ms; batch 0 returns at 250 ms with records 0, 1 and an unknown
    // id, batch 1 at 1000 ms with 2, 3 and a record outside the tail
    val log = Array(0, -1, 1, 2, 3, 9)
    val lat = Stats.commitLatencies(log, Array(0, 3), Array(3, 6),
      Array(250000000L, 1000000000L),
      r => if (r <= 3) r * 100000000L else Long.MinValue)
    expect(lat.sameElements(Array(250.0, 150.0, 800.0, 700.0)),
      s"commit latencies from a synthetic log: ${lat.mkString(",")}")
    expect(Stats.percentile(lat, 50) == 250.0 && Stats.percentile(lat, 99) == 800.0,
      "p50 and p99 of the synthetic latencies")
    val sp = Seq(Span(1, 0, "a", "harness", 0, 100), Span(2, 1, "b", "harness", 10, 40),
      Span(3, 1, "c", "spark", 30, 60), Span(4, 2, "d", "spark", 15, 20))
    val self = Tracer.selfTimes(sp)
    expect(self("a") == 50 / 1e9 && self("b") == 25 / 1e9 && self("c") == 30 / 1e9,
      s"self times from spans: $self")
    if (failures > 0) { println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("all self-tests passed")
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.filters.{FilterSpec, FilterVerbs, PayloadFilter}

/** The shape of one consume workload. Everything the generator varies
  * between workloads lives here; the seed picks the values.
  */
final case class Shape(
    name: String,
    shards: Int,
    /** Zipf exponent of shard traffic; 0 = uniform. */
    zipfS: Double,
    payloadBytes: Int,
    backlogRecords: Int,
    /** Open-loop tail rate. Fixed per workload, never adapted per run. */
    tailRecordsPerSec: Int,
    filters: FilterSpec,
    skewedBody: Boolean)

object Shapes {
  /** Tail files land every `TickMs`; 50 ms keeps the 1 s trigger's phase
    * against the file schedule from moving the latency median. */
  val TickMs = 50
  val WarmRecords = 2000

  /** ~1 KiB bodies, Zipf(1.0) over 32 shards (the hottest carries ~25%),
    * a 4-predicate AND over nested paths: about 88% pass. */
  val skewed = Shape("consume_skewed", 32, 1.0, 1024,
    backlogRecords = 150000, tailRecordsPerSec = 12000,
    FilterSpec(Seq(
      PayloadFilter("event.type", FilterVerbs.NotEquals, "refund"),
      PayloadFilter("event.source.channel",
        FilterVerbs.StartsWith + FilterVerbs.CaseInsensitiveSuffix, "web"),
      PayloadFilter("user.score", FilterVerbs.GreaterThan, "15"),
      PayloadFilter("geo.country", FilterVerbs.NotEquals, "XX"))),
    skewedBody = true)

  /** ~200 B bodies, 32 uniform shards, one Equals predicate. */
  val small = Shape("consume_small", 32, 0.0, 200,
    backlogRecords = 600000, tailRecordsPerSec = 30000,
    FilterSpec(Seq(PayloadFilter("type", FilterVerbs.Equals, "click"))),
    skewedBody = false)

  val all: Seq[Shape] = Seq(skewed, small)
  def byName(n: String): Option[Shape] = all.find(_.name == n)
}

/** One generated record. `pass` is the expected filter verdict, computed
  * from the values the generator chose, never by parsing the body. `body`
  * is null when only the metadata was asked for; `bytes` is its length. */
final case class GenRecord(shard: Int, counter: Long, body: Array[Byte],
    bytes: Int, pass: Boolean)

/** Where records sit in one run's stream: `warm` set-up records, then the
  * `backlog`, then `ticks` tail files of `tickRecords` each. */
final case class Layout(warm: Int, backlog: Int, tickRecords: Int, ticks: Int) {
  val backlogEnd: Int = warm + backlog
  val n: Int = backlogEnd + tickRecords * ticks
  def tickOf(i: Int): Int = (i - backlogEnd) / tickRecords
  /** First record of tail tick `t`; `tickStart(ticks)` is `n`. */
  def tickStart(t: Int): Int = backlogEnd + t * tickRecords
  /** Arrival stamps are fixed offsets from 2026-01-01T00:00:00Z, so the
    * files are a function of the seed alone. */
  def arrivalMs(i: Int): Long = {
    val base = 1767225600000L
    if (i < warm) base
    else if (i < backlogEnd) base + 1000 + (i - warm) / 20
    else base + 3600000L + tickOf(i).toLong * Shapes.TickMs
  }
}

/** Seeded record generator. Record i is a function of (shape, seed, i)
  * alone, so Spark tasks can write any range of the stream in parallel
  * while the harness recomputes the same metadata itself; the
  * program only ever sees the files.
  *
  * Sequence numbers are Kinesis-shaped: 56 decimal digits, a per-shard
  * 22-digit prefix starting "49" and a 34-digit zero-padded counter,
  * shard base + 1000 i + a step below 1000, so they are strictly
  * monotone per shard and far beyond int64.
  */
final class Gen(val shape: Shape, val seed: Long) extends Serializable {
  private val mixed = seed * 0x9E3779B97F4A7C15L + shape.name.hashCode
  @transient private val setupRng = new SplittableRandom(mixed)

  val shardNames: Array[String] =
    Array.tabulate(shape.shards)(i => f"shardId-$i%012d")
  val prefixes: Array[String] = Array.fill(shape.shards) {
    "49" + Array.fill(20)(setupRng.nextInt(10)).mkString
  }
  private val shardBase: Array[Long] =
    Array.fill(shape.shards)(1000000000L + setupRng.nextLong(1000000000L))

  /** Cumulative shard distribution. Shard i has rank i in every seed: the
    * shards that share a shuffle partition with the hot one decide the
    * largest dispatch task, so a seeded ranking made `heap_peak_mb` and
    * `drain_mb_s` depend on the seed, not on the program. */
  private val cdf: Array[Double] = {
    val w = Array.tabulate(shape.shards)(rank =>
      if (shape.zipfS == 0) 1.0 else 1.0 / math.pow(rank + 1, shape.zipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def seq(shard: Int, counter: Long): String = {
    val c = counter.toString
    prefixes(shard) + "0" * (34 - c.length) + c
  }

  private val alphabet =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
  private def blob(rng: SplittableRandom, n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var bits = 0L
    while (i < n) {
      if (i % 10 == 0) bits = rng.nextLong()
      sb.append(alphabet.charAt((bits & 63).toInt))
      bits >>>= 6
      i += 1
    }
    sb.toString
  }
  private def pick[T](rng: SplittableRandom, xs: Array[(T, Int)]): T = {
    var r = rng.nextInt(xs.iterator.map(_._2).sum)
    xs.find { case (_, w) => r -= w; r < 0 }.get._1
  }

  private val eventTypes = Array("view" -> 40, "click" -> 30,
    "purchase" -> 20, "signup" -> 7, "refund" -> 3)
  private val channels = Array("Web-Desktop" -> 40, "WEB-Mobile" -> 35,
    "web-tablet" -> 23, "App-iOS" -> 1, "" -> 1) // "" = property absent
  private val countries = Array("DE" -> 15, "US" -> 25, "FR" -> 10,
    "BR" -> 10, "IN" -> 15, "JP" -> 10, "GB" -> 14, "XX" -> 1)
  private val smallTypes = Array("click" -> 70, "view" -> 20, "scroll" -> 10)

  private def padLength(rng: SplittableRandom, fixed: Int): Int = {
    val n = shape.payloadBytes - fixed
    math.max(8, n - n / 10 + rng.nextInt(math.max(1, n / 5)))
  }

  /** Record `i`. The blob, drawn last, is skipped unless `withBody`. */
  def record(i: Int, withBody: Boolean): GenRecord = {
    val rng = new SplittableRandom(mixed ^ (i.toLong * 0xBF58476D1CE4E5B9L))
    val u = rng.nextDouble()
    val k = java.util.Arrays.binarySearch(cdf, u)
    val shard = math.min(shape.shards - 1, if (k >= 0) k else -k - 1)
    val counter = shardBase(shard) + 1000L * i + rng.nextInt(1000)
    // (head, tail, pass): the body is head + blob + tail
    val (head, tail, pass) =
      if (rng.nextInt(100) == 0) rng.nextInt(3) match {
        // bodies `JObject.Parse` rejects bypass the filters (P8)
        case 0 => ("[1,2,\"", "\"]", true)
        case 1 => ("\"s", "\"", true)
        case _ => ("{\"broken\": \"", "", true)
      } else if (shape.skewedBody) {
        val tpe = pick(rng, eventTypes)
        val ch = pick(rng, channels)
        val score = rng.nextInt(10000).toString
        val country = pick(rng, countries)
        val chField = if (ch.isEmpty) "" else s"\"channel\":\"$ch\","
        val h = s"{\"event\":{\"type\":\"$tpe\",\"source\":{$chField\"region\":\"eu-${
          rng.nextInt(4)}\"}},\"user\":{\"id\":\"u${rng.nextInt(10000000)}\",\"score\":\"$score\"}," +
          s"\"geo\":{\"country\":\"$country\",\"city\":\"c${rng.nextInt(5000)}\"},\"blob\":\""
        // ordinal string comparison, as the reference's filters do (S1)
        (h, "\"}", tpe != "refund" && ch.nonEmpty &&
          ch.toLowerCase(java.util.Locale.ROOT).startsWith("web") &&
          score.compareTo("15") > 0 && country != "XX")
      } else {
        val tpe = pick(rng, smallTypes)
        (s"{\"type\":\"$tpe\",\"uid\":\"u${rng.nextInt(1000000)}\",\"pad\":\"", "\"}",
          tpe == "click")
      }
    val len = padLength(rng, head.length + tail.length)
    val body = if (withBody) (head + blob(rng, len) + tail).getBytes(UTF_8) else null
    GenRecord(shard, counter, body, head.length + len + tail.length, pass)
  }
}

object Seqs {
  /** Kinesis sequence order: numeric value of a decimal string. */
  def less(a: String, b: String): Boolean =
    a.length < b.length || (a.length == b.length && a.compareTo(b) < 0)
}

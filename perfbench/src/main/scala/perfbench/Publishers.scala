package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import graft.streaming.NozzlePipeline.Publisher

/** Order-insensitive digest of delivered (topic, payload) records: the
  * wrapping sum of a 64-bit hash per record, so reordering does not
  * change it while a lost, duplicated or altered record does. */
object Digest {
  def record(topic: String, payload: String): Long = {
    var h = 0xcbf29ce484222325L
    def mix(bytes: Array[Byte]): Unit = {
      var i = 0
      while (i < bytes.length) { h = (h ^ (bytes(i) & 0xff)) * 0x100000001b3L; i += 1 }
    }
    mix(topic.getBytes(UTF_8)); h = (h ^ 0x0a) * 0x100000001b3L
    mix(payload.getBytes(UTF_8))
    Faults.splitmix64(h)
  }
}

/** The publisher fault plan: a pure function of (seed, event_id) that
  * gen.py's `fault_attempts` mirrors bit for bit. */
object Faults {
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  final case class Plan(seed: Long, permanentPer10k: Int, transientPer10k: Int, maxTransient: Int)

  /** Failing attempts before the first success; -1 = never succeeds. */
  def failures(p: Plan, eventId: Long): Int = {
    val h = splitmix64(p.seed * 0x2545F4914F6CDD1DL + eventId)
    val r = java.lang.Long.remainderUnsigned(h, 10000L)
    if (r < p.permanentPer10k) -1
    else if (r < p.permanentPer10k + p.transientPer10k)
      1 + java.lang.Long.remainderUnsigned(h >>> 32, p.maxTransient.toLong).toInt
    else 0
  }
}

/** Counters shared by both benchmark publishers. Publishers are Scala
  * objects, so in a local-mode run every task sees the same instance. */
trait CountingPublisher extends Publisher {
  val attempts = new LongAdder
  val successes = new LongAdder
  val failures = new LongAdder
  val digest = new AtomicLong

  def reset(): Unit = {
    attempts.reset(); successes.reset(); failures.reset(); digest.set(0L)
  }

  protected def deliver(topic: String, payload: String): Unit = {
    successes.increment()
    digest.addAndGet(Digest.record(topic, payload))
    ()
  }
}

/** Always succeeds. */
object OkPublisher extends CountingPublisher {
  override def publish(topic: String, payload: String): Unit = {
    attempts.increment()
    deliver(topic, payload)
  }
}

/** Fails per [[Faults.failures]] for the event behind each payload: the
  * event id is recovered from the envelope timestamp, which the
  * generator sets to t0 + event_id ms plus sub-millisecond jitter. */
object FaultyPublisher extends CountingPublisher {
  @volatile var plan: Faults.Plan = Faults.Plan(0L, 0, 0, 1)
  @volatile var t0Us: Long = 0L
  private val tried = new ConcurrentHashMap[Long, Integer]()

  override def reset(): Unit = { super.reset(); tried.clear() }

  private def eventId(payload: String): Long = {
    val key = "\"timestamp\":"
    val i = payload.indexOf(key) + key.length
    var j = i
    while (j < payload.length && Character.isDigit(payload.charAt(j))) j += 1
    (payload.substring(i, j).toLong / 1000L - t0Us) / 1000L
  }

  override def publish(topic: String, payload: String): Unit = {
    attempts.increment()
    val id = eventId(payload)
    val k = Faults.failures(plan, id)
    val attempt = if (k == 0) 0 else tried.merge(id, 1, (a, b) => a + b) - 1
    if (k == -1 || attempt < k) {
      failures.increment()
      throw new RuntimeException(s"planned publish failure: event $id attempt $attempt")
    }
    deliver(topic, payload)
  }
}

package graft

import graft.queries.{Fixtures, QuerySpec, Registry}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Driver-contract checks over [[SparkEntry]] — no SparkSession needed.
 *
 * The duplicate-name guard exists because a keyed map keeps the LAST
 * binding for a repeated key: in r14 a new daily CUSUM card reused the
 * `events_cusum` name and silently shadowed the r13 hourly row — the
 * operator stayed in the build, green in its unit suite, and simply
 * vanished from driver coverage. The registry refuses a repeated name
 * before any map is built, so the check runs on the live rows.
 */
class SparkEntryContractSpec extends AnyFunSuite {

  test("queries and oracleSql carry identical key sets") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without a query: ${o -- q}")
  }

  test("no silently-shadowed duplicate map keys in the SparkEntry source") {
    // an oracle that throws if rendered: building a registry must not
    def row(name: String) = QuerySpec(name, (s, _) => s.range(1).toDF(),
      throw new AssertionError(s"oracle of $name rendered"))
    val e = intercept[IllegalArgumentException](
      Registry.distinct(Seq(row("a_row"), row("events_cusum"), row("b_row"),
        row("events_cusum"))))
    assert(e.getMessage.contains("events_cusum"), e.getMessage)
    assert(!e.getMessage.contains("a_row"), e.getMessage)
    val names = Registry.all.map(_.name)
    assert(names.size === 434)
    assert(names.distinct.size === 434)
  }

  // The fixture memo, exercised with plain values (no SparkSession);
  // each test keys under a fresh dir so reruns never hit a stale entry.
  private def freshDir(): String = s"memo-spec-${java.util.UUID.randomUUID()}"

  test("memo: one build per key under 8 concurrent callers") {
    val dir = freshDir()
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(() => {
        go.await()
        Fixtures.memo("spec_once", dir) {
          Thread.sleep(50)
          builds.incrementAndGet()
        }
      }))
      go.countDown()
      val got = calls.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get === 1)
      assert(got.toSet === Set(1))
    } finally pool.shutdown()
  }

  test("memo: a build may memo other keys (nested fixtures, any depth)") {
    val dir = freshDir()
    // a chain deep enough that some inner key lands in the same hash
    // bin as an outer key whose build is still running
    def level(i: Int): Int =
      if (i == 0) 0 else Fixtures.memo(s"spec_nest_$i", dir)(level(i - 1) + 1)
    assert(level(128) === 128)
    assert(Fixtures.memo("spec_nest_1", dir)(-1) === 1)
  }

  test("memo: a build that throws is not kept; the next call retries") {
    val dir = freshDir()
    var attempts = 0
    def build(): String = {
      attempts += 1
      if (attempts == 1) throw new IllegalStateException("first build fails")
      "built"
    }
    intercept[IllegalStateException](Fixtures.memo("spec_retry", dir)(build()))
    assert(Fixtures.memo("spec_retry", dir)(build()) === "built")
    assert(Fixtures.memo("spec_retry", dir)(build()) === "built")
    assert(attempts === 2)
  }

  test("README row count matches the queries map") {
    val path = java.nio.file.Paths.get("README.md")
    assume(java.nio.file.Files.exists(path), "README not present")
    val src = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    val m = """(\d+) queries, (\d+) oracles""".r.findFirstMatchIn(src)
    assert(m.isDefined, "README no longer carries the 'N queries, N oracles' line")
    val n = SparkEntry.queries.size
    assert(m.get.group(1).toInt === n && m.get.group(2).toInt === n,
      s"README says '${m.get.matched}' but SparkEntry carries $n rows — sync README.md")
  }
}

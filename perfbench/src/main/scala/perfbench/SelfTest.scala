package perfbench

import org.apache.spark.sql.functions.col

/** Self-tests of the benchmark's own machinery (not of graft):
  *  - the delta stream is a pure function of the seed;
  *  - the fingerprint ignores row order exactly when the result has none.
  * The third check, that deterministic counters repeat across two traced
  * runs, needs two JVMs and lives in run.py. */
object SelfTest {
  def run(c: Main.Conf): Map[String, Any] = {
    val z = Deltas.Sizes(lineitems = 60000, parts = 2000, docs = 500, orders = 15000,
      custs = 1500, pairs = 50000, nodes = 2000)
    def bytes(seed: Long) = Deltas.stream(seed, z, 5).flatMap(_.bytes).toArray
    val spark = Main.session(c)
    import spark.implicits._
    val rows = Seq((1L, "x", 0.5), (2L, "y", 1.5), (3L, "z", 2.5))
    val fwd = rows.toDF("k", "s", "v")
    val rev = rows.reverse.toDF("k", "s", "v")
    val changed = rows.map { case (k, s, v) => (k, s, v + (if (k == 2L) 1.0 else 0.0)) }
      .toDF("k", "s", "v")
    val checks = Seq(
      "deltas_same_seed_identical" -> (bytes(c.seed) sameElements bytes(c.seed)),
      "deltas_other_seed_differ" -> !(bytes(c.seed) sameElements bytes(c.seed + 1)),
      "fingerprint_ignores_order_when_unordered" ->
        (Fingerprint.of(fwd) == Fingerprint.of(rev) && !Fingerprint.of(fwd).ordered),
      "fingerprint_keeps_order_when_ordered" -> {
        val (a, b) = (Fingerprint.of(fwd.orderBy("k")), Fingerprint.of(fwd.orderBy(col("k").desc)))
        a.ordered && b.ordered && a.hash != b.hash
      },
      "fingerprint_sees_values" -> (Fingerprint.of(fwd).hash != Fingerprint.of(changed).hash))
    checks.foreach { case (n, ok) => System.err.println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $n") }
    Map("checks" -> checks.toMap, "correct" -> checks.forall(_._2))
  }
}

package perfbench

/** Self-test of the query generator and the quantile estimator (no
  * Spark): one seed reproduces the same query stream, another seed gives a
  * different one, and every block holds each query kind in its fixed count,
  * so every route the kinds aim at occurs. Whether the engine really takes
  * each route is checked by every run, which fails when one of the routes
  * fast, hybrid, wand, and, absent was never taken. The base/delta split is
  * a hash of the seed and the natural key (`Inputs.sliceCol`).
  */
object SelfTest {

  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"selftest: $what")

  def run(): Unit = {
    val s = Inputs.Scale(Main.Lines)
    for (seed <- Seq(1L, 2L, 12345L)) {
      val a = Inputs.stream(s, seed, "serve", 3)
      expect(a == Inputs.stream(s, seed, "serve", 3), s"seed $seed reproduces its stream")
      expect(a.take(Inputs.BlockSize) == Inputs.stream(s, seed, "serve", 1),
        s"seed $seed: a shorter stream is a prefix of a longer one")
      expect(a != Inputs.stream(s, seed + 1, "serve", 3), s"seeds $seed and ${seed + 1} differ")
      expect(a != Inputs.stream(s, seed, "ingest", 3), s"seed $seed: named streams differ")
      a.grouped(Inputs.BlockSize).foreach { block =>
        Inputs.Kinds.foreach { k =>
          expect(block.count(_.kind == k) == k.perBlock, s"seed $seed: ${k.perBlock} ${k.name} per block")
        }
      }
      val firstFast = a.take(Inputs.BlockSize).filter(_.kind == Inputs.Fast).map(_.terms.head)
      expect(firstFast.distinct == firstFast, s"seed $seed: the first block asks distinct fast words")
      a.foreach { q =>
        expect(q.terms.nonEmpty && q.terms.distinct == q.terms, s"${q.id}: distinct terms")
        expect(q.k >= 1 && q.k <= graft.engine.SearchApi.MaxK, s"${q.id}: k in range")
        q.kind match {
          case Inputs.Fast => expect(q.terms.size == 1 && q.k <= 15 && Inputs.FastWords.contains(q.terms.head), s"${q.id}: fast shape")
          case Inputs.BigK => expect(q.k > graft.index.IndexBuilder.FastK, s"${q.id}: k above the fast-list length")
          case Inputs.And => expect(q.conjunctive && q.terms.size == 2, s"${q.id}: conjunctive pair")
          case Inputs.Scoped => expect(q.repos.exists(_.nonEmpty), s"${q.id}: repo scope")
          case Inputs.Absent => expect(q.terms.forall(_.startsWith("nohit_")), s"${q.id}: absent term")
          case Inputs.Hybrid => expect(q.terms.head.startsWith("handler_") && q.terms.size == 2 &&
            Inputs.ClassA.contains(q.terms(1)), s"${q.id}: identifier + hot keyword")
          case _ =>
        }
      }
    }
    // the Harrell-Davis quantiles the metrics use
    val xs = (1 to 101).map(_.toDouble)
    expect(math.abs(Workload.percentile(xs, 0.5) - 51) < 1e-6, "HD median of 1..101 is 51")
    expect(Workload.percentile(xs, 0.8) > 80 && Workload.percentile(xs, 0.8) < 82, "HD p80 of 1..101 near 81")
    expect(math.abs(Workload.percentile(Seq.fill(25)(7.0), 0.8) - 7) < 1e-9, "HD of a constant")
    println(s"selftest ok: ${Inputs.Kinds.map(k => s"${k.name}=${k.perBlock}").mkString(" ")} per block of ${Inputs.BlockSize}")
  }
}

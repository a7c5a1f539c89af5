package perfbench

import java.nio.file.Path

/** Generator self-test: the same seed must give byte-identical inputs and
  * another seed different ones, for every input kind the workloads hand the
  * program (page trees with an incremental day, corpus drops, live pages).
  */
object GenCheck {
  private def market(dir: Path, seed: Long): String = {
    val t = Gen.marketTree(dir, seed, 4, 2, 200)
    t.appendDay()
    Gen.treeDigest(dir)
  }

  private def corpus(seed: Long): String = {
    val (base, _) = Gen.corpusDocs(seed, 0, 1L, 50, Vector.empty)
    val (drop, exact) = Gen.corpusDocs(seed, 10, 51L, 50, base)
    Gen.digest((base ++ drop).iterator.map { case (id, t) => s"$id\t$t" } ++
      exact.toSeq.sorted.iterator.map(_.toString))
  }

  private def live(dir: Path, seed: Long): String = {
    val t = new Gen.LiveTree(dir, seed, 3)
    (0 to 2).foreach(t.publishPage)
    Gen.treeDigest(dir)
  }

  def run(work: Path, seed: Long): Boolean = {
    val checks = Seq(
      "market" -> ((s: Long, i: Int) => market(work.resolve(s"m$i"), s)),
      "corpus" -> ((s: Long, _: Int) => corpus(s)),
      "live" -> ((s: Long, i: Int) => live(work.resolve(s"l$i"), s)))
    val results = checks.map { case (name, f) =>
      val (a, b, c) = (f(seed, 0), f(seed, 1), f(seed + 1, 2))
      val ok = a == b && a != c
      println(s"gen-check $name: same seed ${if (a == b) "identical" else "DIFFERS"}, " +
        s"other seed ${if (a != c) "differs" else "IDENTICAL"} -> ${if (ok) "ok" else "FAIL"}")
      ok
    }
    results.forall(identity)
  }
}

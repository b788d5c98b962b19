package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def staged(seed: Long): (Map[String, Seq[Byte]], Gen.ObisTruth) = {
    val dir = Files.createTempDirectory("perfbench-gen")
    val truth = Gen.obis(seed, dir, files = 2, perFile = 3000)
    Gen.polygons(seed, dir.resolve("oceans.tsv"), vertices = 50)
    val files = Files.walk(dir).toArray.map(_.asInstanceOf[Path])
    try (files.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap, truth)
    finally files.sortBy(-_.getNameCount).foreach(Files.delete)
  }

  private def stream(seed: Long) =
    Gen.cycles(seed, maxKey = 10000, merges = 40, deletes = 10, lookups = 8).take(5).toList

  test("the same seed stages byte-identical files and the same key stream") {
    val (a, ta) = staged(7)
    val (b, tb) = staged(7)
    assert(a.keySet == b.keySet && a.size == 3)
    a.foreach { case (name, bytes) => assert(bytes == b(name), name) }
    assert(ta == tb)
    assert(stream(7) == stream(7))
  }

  test("a different seed stages different files and a different key stream") {
    val (a, _) = staged(7)
    val (b, _) = staged(8)
    assert(a.keySet == b.keySet)
    a.foreach { case (name, bytes) => assert(bytes != b(name), name) }
    assert(stream(7) != stream(8))
  }

  test("the known truth adds up and has the documented shares") {
    val (_, t) = staged(3)
    assert(t.staged == 6000)
    assert(t.validated + t.errorRows == t.staged)
    assert(t.repaired + t.unrepairable == t.errorRows)
    val repeats = t.validated + t.repaired - t.cleaned
    assert(repeats > 0.18 * t.staged && repeats < 0.26 * t.staged, repeats)
    assert(t.errorRows > 0 && t.errorRows < 0.01 * t.staged, t.errorRows)
  }

  test("merge keys reach past the table so some merges insert") {
    val cs = Gen.cycles(5, maxKey = 10000, merges = 400, deletes = 100, lookups = 8).take(10).toList
    val keys = cs.flatMap(_.merge)
    assert(cs.forall(c => c.merge.distinct.size == 400 && c.delete.distinct.size == 100))
    val inserts = keys.count(_ >= 10000).toDouble / keys.size
    assert(inserts > 0.06 && inserts < 0.12, inserts)
  }
}

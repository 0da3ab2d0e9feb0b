package perfbench

import org.scalatest.funsuite.AnyFunSuite
import graft.analytics.Registry

class CatalogSpec extends AnyFunSuite {

  test("the modules found on the classpath partition the registry") {
    val names = Catalog.modules.flatMap(_._2.map(_.name))
    assert(names.distinct.size == names.size)
    assert(names.toSet == Registry.all.map(_.name).toSet)
    assert(Catalog.unassigned.isEmpty)
  }

  test("the stratified sample covers every analytics module") {
    for (k <- Seq(12, CatalogSample.k); o <- Seq(0, 3, CatalogSample.offset)) {
      val s = Catalog.sample(k, o)
      assert(s.map(_._1).toSet == Catalog.modules.map(_._1).toSet, s"k=$k offset=$o")
    }
  }

  test("every k-th query in name order within each module") {
    val s = Catalog.sample(12, 5)
    Catalog.modules.filter(_._2.size > 12).foreach { case (m, defs) =>
      val picked = s.collect { case (`m`, q) => defs.indexOf(q) }
      assert(picked.nonEmpty && picked.forall(_ % 12 == 5), m)
    }
  }

  test("the sample changes with the offset, the run order with the seed") {
    assert(Catalog.sample(12, 0).toSet != Catalog.sample(12, 1).toSet)
    assert(Catalog.sample(12, 0).map(_._2.name).toSet
      .intersect(Catalog.sample(12, 1).map(_._2.name).toSet)
      .forall(n => Catalog.modules.exists { case (_, d) => d.size < 12 && d.exists(_.name == n) }))
    assert(CatalogSample.plan(1) != CatalogSample.plan(2))
    assert(CatalogSample.plan(1) == CatalogSample.plan(1))
    assert(CatalogSample.plan(1).toSet == CatalogSample.plan(2).toSet)
  }
}

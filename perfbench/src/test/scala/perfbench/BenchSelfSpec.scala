package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Kpl

class BenchSelfSpec extends AnyFunSuite {

  test("the event generator is deterministic per seed") {
    def gen(seed: Long) = {
      val puts = Events.schedule(seed, 0, 5000, 10000.0, 4)
      (puts, puts.map(p => Events.payload(seed, p, 0, 10000.0, 1700000000000L).toSeq))
    }
    val (a, pa) = gen(7)
    val (b, pb) = gen(7)
    val (c, pc) = gen(8)
    assert(a == b && pa == pb)
    assert(pa != pc)
    // shares land near their targets and every event is scheduled once
    assert(Events.distinctIds(a) == (0L until 5000L).toSet)
    assert(a.count(!_.duplicate) < 5000)
    val dups = Events.duplicates(a)
    assert(dups > 150 && dups < 350, s"$dups duplicates")
    assert(a.exists(_.ids.size > 1), "no KPL aggregates")
    assert(a.map(_.dueNs) == a.map(_.dueNs).sorted)
  }

  test("KPL-aggregated puts de-aggregate to the events they carry") {
    val seed = 3L
    val agg = Events.schedule(seed, 0, 2000, 10000.0, 4).find(_.ids.size > 1).get
    val users = Kpl.deaggregate(Events.payload(seed, agg, 0, 10000.0, 0L)).get
    assert(users.map(u => new String(u.data, "UTF-8")) ==
      agg.ids.map(id => new String(Events.payload(seed, Events.Put(0, 0, Seq(id), false),
        0, 10000.0, 0L), "UTF-8")))
  }

  test("median and percentile on known inputs") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.percentile(Seq(5.0), 99) == 5.0)
    val xs = (1 to 101).map(_.toDouble)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 99) == 100.0)
    assert(Stats.percentile(xs, 100) == 101.0)
    assert(Stats.percentile(Seq(10.0, 20.0), 25) == 12.5)
    assertThrows[IllegalArgumentException](Stats.median(Seq.empty))
  }

  test("the shard client honours getRecords(after, upTo] and increasing sequences") {
    val c = new BenchShards(2)
    (0 until 10).foreach(i => c.put(i % 2, Array(i.toByte)))
    val s0 = c.shardIds(0)
    val all = c.getRecords("s", s0, None, c.latestSequence("s", s0).get).toVector
    assert(all.map(_._2.head.toInt) == Vector(0, 2, 4, 6, 8))
    val seqs = all.map(_._1)
    assert(seqs.forall(_.length == 56))
    assert(seqs.zip(seqs.tail).forall { case (a, b) => a < b && a.toLong < b.toLong })
    // (after, upTo]: exclusive start, inclusive end
    val mid = c.getRecords("s", s0, Some(seqs(1)), seqs(3)).map(_._1).toVector
    assert(mid == Vector(seqs(2), seqs(3)))
    assert(c.getRecords("s", s0, Some(seqs(4)), seqs(4)).isEmpty)
    // bounded advance through the trait's default scan
    assert(c.advanceTo("s", s0, Some(seqs(0)), seqs(4), 2).contains((seqs(2), 2)))
    assert(c.advanceTo("s", s0, Some(seqs(4)), seqs(4), 2).isEmpty)
    assert(c.latestSequence("s", c.shardIds(1)).get > seqs(4))
    assert(new BenchShards(1).latestSequence("s", "shardId-000000000000").isEmpty)
  }

  test("connected components are labelled by their minimum") {
    assert(Maintain.components(Seq(5L -> 9L, 9L -> 2L, 7L -> 8L)) ==
      Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 7L -> 7L, 8L -> 7L))
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SeedSpec extends AnyFunSuite {
  /** A small synthetic store: 24 months of 50 keys each. */
  private def model(): StoreModel = {
    val n = 1200
    val month = Array.tabulate(n)(k => 200001 + (k / 50) % 12 + 100 * (k / 600))
    new StoreModel(Array.tabulate(n)(k => (k * 7L) % 97), month,
      Array.fill(n)("O"), Array.fill(n)("3-MEDIUM"),
      Array.tabulate(n)(k => 10000L + k), Array.tabulate(n)(k => !Store.heldBack(k)),
      Array.tabulate(n)(k => !Store.heldBack(k)))
  }

  /** The store_mix op sequence: deck order, then each op's arguments. */
  private def storeOps(seed: Long, n: Int): Seq[Any] = {
    val m = model()
    val ingest = new IngestGen(m, seed)
    val reads = new QueryGen(m, () => Seq(1L, 2L, 5L), seed)
    val deck = new Decks(StoreMix.Deck, seed, StoreMix.DeckHead,
      StoreMix.DeckTail)
    Seq.fill(n) {
      val k = deck.next()
      if (StoreMix.IngestKinds.contains(k)) ingest.make(k) else reads.make(k)
    }
  }
  private def mix(seed: Long, n: Int) = {
    val g = new Decks(Analytics.Names, seed)
    Seq.fill(n)(g.next())
  }

  test("the same seed gives the identical op sequence") {
    assert(storeOps(7, 200) == storeOps(7, 200))
    assert(mix(7, 50) == mix(7, 50))
  }

  test("a different seed gives a different op sequence") {
    assert(storeOps(7, 200) != storeOps(8, 200))
    assert(mix(7, 50) != mix(8, 50))
  }

  test("every deck holds the same mix of work") {
    val all = StoreMix.DeckHead ++ StoreMix.Deck ++ StoreMix.DeckTail
    val ops = storeOps(3, all.size * 5)
    def kind(o: Any) = o match {
      case i: IngestOp => i.kind
      case r: ReadOp => r.kind
    }
    ops.grouped(all.size).foreach { d =>
      assert(d.map(kind).sorted == all.sorted)
      assert(d.head == History && d.last == Compact)
    }
    mix(11, 30).grouped(Analytics.Names.size).foreach(r =>
      assert(r.sorted == Analytics.Names.sorted))
  }

  test("generating a write applies it to the model") {
    val m = model()
    val g = new IngestGen(m, 5)
    val before = m.liveRows
    val ops = Seq.fill(60)(Seq("upsert", "delete", "delete_where")).flatten
      .map(g.make)
    val inserted = ops.collect { case u: Upsert => u.inserts.size }.sum
    val deleted = ops.collect {
      case d: DeleteKeys => d.deleted
      case d: DeleteRange => d.deleted
    }.sum
    assert(inserted > 0 && deleted > 0)
    assert(m.liveRows == before + inserted - deleted)
  }
}

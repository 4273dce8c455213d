package graft.ops

/** A map task's count table (the MapReduce combiner's, Dean & Ghemawat
  * OSDI 2004 §4.3): open addressing with linear probing over parallel
  * key, hash and count arrays, kept at most half full. A key can be looked
  * up by its chars, so a caller that builds keys in a buffer allocates a
  * String only for a key the table has not seen.
  */
private[ops] final class CountTable {
  private var mask   = 1023
  private var keys   = new Array[String](mask + 1)
  private var hashes = new Array[Int](mask + 1)
  private var counts = new Array[Long](mask + 1)
  private var size   = 0

  /** Holds [[GroupStage.CombineBound]] entries or more. */
  def full: Boolean = size >= GroupStage.CombineBound

  /** Count `key` once. */
  def add(key: String): Unit = {
    val h = key.hashCode
    var i = home(h)
    while (keys(i) != null && !(hashes(i) == h && keys(i) == key)) i = (i + 1) & mask
    if (keys(i) != null) counts(i) += 1 else put(i, key, h)
  }

  /** Count the string `chars[0, len)` once; `h` must be its `hashCode`. */
  def add(chars: Array[Char], len: Int, h: Int): Unit = {
    var i = home(h)
    while (keys(i) != null && !(hashes(i) == h && same(keys(i), chars, len))) i = (i + 1) & mask
    if (keys(i) != null) counts(i) += 1 else put(i, new String(chars, 0, len), h)
  }

  /** The entries in slot order. Valid until the next [[add]] or [[clear]]. */
  def entries: Iterator[(String, Long)] =
    keys.indices.iterator.filter(keys(_) != null).map(i => (keys(i), counts(i)))

  def clear(): Unit = {
    java.util.Arrays.fill(keys.asInstanceOf[Array[AnyRef]], null)
    size = 0
  }

  private def same(k: String, chars: Array[Char], len: Int): Boolean = {
    if (k.length != len) return false
    var j = 0
    while (j < len && k.charAt(j) == chars(j)) j += 1
    j == len
  }

  // a multiply moves each hash bit's effect upward, the fold brings it back
  // into the masked low bits: similar short keys' hashes land far apart
  private def home(h: Int): Int = { val x = h * 0x9e3779b9; (x ^ (x >>> 16)) & mask }

  private def put(i: Int, key: String, h: Int): Unit = {
    keys(i) = key
    hashes(i) = h
    counts(i) = 1L
    size += 1
    if (2 * size > mask) grow()
  }

  private def grow(): Unit = {
    val (ks, hs, cs) = (keys, hashes, counts)
    mask = 2 * mask + 1
    keys = new Array[String](mask + 1)
    hashes = new Array[Int](mask + 1)
    counts = new Array[Long](mask + 1)
    for (j <- ks.indices if ks(j) != null) {
      var i = home(hs(j))
      while (keys(i) != null) i = (i + 1) & mask
      keys(i) = ks(j)
      hashes(i) = hs(j)
      counts(i) = cs(j)
    }
  }
}

private[ops] object CountTable {

  /** Count `in` into one table, `add` folding in each element. Once the
    * table is [[CountTable.full]] after an element, its entries are emitted
    * and it is refilled, so a key may come out in several partial counts;
    * the reduce side sums them.
    */
  def counting[A](in: Iterator[A])(add: (CountTable, A) => Unit): Iterator[(String, Long)] = {
    val table = new CountTable
    // flatMap refills the table only once its previous entries are emitted
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      table.clear()
      while (in.hasNext && !table.full) add(table, in.next())
      table.entries
    }
  }
}

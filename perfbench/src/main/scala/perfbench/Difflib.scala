package perfbench

import scala.collection.mutable

/** Reference `difflib.SequenceMatcher(None, a, b).ratio()` used to plant
  * the truth of the fuzzy check. It is a direct transcription of
  * CPython's `find_longest_match` / `get_matching_blocks` (autojunk on,
  * no junk function) and is deliberately independent of the engine's own
  * kernel, so the benchmark checks that kernel rather than itself. */
object Difflib {

  def ratio(a: String, b: String): Double = {
    val total = a.length + b.length
    if (total == 0) 1.0 else 2.0 * matches(a, b) / total
  }

  private def matches(a: String, b: String): Int = {
    val lb = b.length
    val b2j = mutable.HashMap.empty[Char, mutable.ArrayBuffer[Int]]
    var j = 0
    while (j < lb) {
      b2j.getOrElseUpdate(b.charAt(j), mutable.ArrayBuffer.empty[Int]) += j
      j += 1
    }
    if (lb >= 200) {
      val ntest = lb / 100 + 1
      b2j.filter(_._2.length > ntest).keys.toList.foreach(b2j.remove)
    }
    val none = mutable.ArrayBuffer.empty[Int]

    def longest(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
      var besti = alo; var bestj = blo; var bestsize = 0
      var j2len = mutable.HashMap.empty[Int, Int]
      var i = alo
      while (i < ahi) {
        val newj2len = mutable.HashMap.empty[Int, Int]
        val js = b2j.getOrElse(a.charAt(i), none)
        var x = 0
        var stop = false
        while (x < js.length && !stop) {
          val jj = js(x)
          if (jj >= bhi) stop = true
          else if (jj >= blo) {
            val k = j2len.getOrElse(jj - 1, 0) + 1
            newj2len(jj) = k
            if (k > bestsize) { besti = i - k + 1; bestj = jj - k + 1; bestsize = k }
          }
          x += 1
        }
        j2len = newj2len
        i += 1
      }
      // no junk function: every element is non-junk, so the match extends
      // over equal neighbours (popular ones included)
      while (besti > alo && bestj > blo && a.charAt(besti - 1) == b.charAt(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
          a.charAt(besti + bestsize) == b.charAt(bestj + bestsize))
        bestsize += 1
      (besti, bestj, bestsize)
    }

    var total = 0
    val queue = mutable.Stack((0, a.length, 0, lb))
    while (queue.nonEmpty) {
      val (alo, ahi, blo, bhi) = queue.pop()
      val (i, jj, k) = longest(alo, ahi, blo, bhi)
      if (k > 0) {
        total += k
        if (alo < i && blo < jj) queue.push((alo, i, blo, jj))
        if (i + k < ahi && jj + k < bhi) queue.push((i + k, ahi, jj + k, bhi))
      }
    }
    total
  }
}

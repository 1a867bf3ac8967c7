package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded hashing: every generated value is a pure function of
  * (seed, key, salt), so executor tasks and the truth computation agree without sharing
  * state, and the same seed always gives the same inputs. */
object Rng {
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def h(seed: Long, k: Long, salt: Long): Long =
    mix(mix(seed * 0x632BE59BD9B4E019L + salt) ^ k)
  def u(seed: Long, k: Long, salt: Long): Double =
    (h(seed, k, salt) >>> 11).toDouble / (1L << 53)
  def below(seed: Long, k: Long, salt: Long, n: Int): Int =
    java.lang.Math.floorMod(h(seed, k, salt), n.toLong).toInt

  /** The documents table's vocabulary: short lowercase words. */
  val words: Array[String] = ("key agg row scan slow fast table value part hash " +
    "merge batch line sort window the a join small customer query big " +
    "order group stream column data filter spark vector index plan cost " +
    "shard cache page lock flush merge log commit snapshot replica").split(" ")

  /** Space-separated words until the text reaches `minChars`. */
  def text(seed: Long, k: Long, salt: Long, minChars: Int): String = {
    val sb = new java.lang.StringBuilder
    var i = 0L
    while (sb.length < minChars) {
      if (sb.length > 0) sb.append(' ')
      sb.append(words(below(seed, k, salt * 7919 + i, words.length)))
      i += 1
    }
    sb.toString
  }
}

/** One row of a generated source or replica table. Values are options
  * so planted nulls are explicit. */
final case class DiffRow(k: Long, amountCents: Option[Long],
    day: Option[Int], note: Option[String]) {
  def region: String = f"r${java.lang.Math.floorMod(k, 16L)}%02d"
  def acct: Long = k / 16
  def toRow: Row = Row(region, acct,
    amountCents.map(c => java.lang.Double.valueOf(c / 100.0)).orNull,
    day.map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))).orNull,
    note.orNull)
}

/** The source/replica pair of `daily_revalidate`.
  *
  * Ids `0 until n` exist in the source; the replica drops some of them and
  * adds `nExtra` ids of its own. Per id, seeded draws plant one of: a
  * numeric change, a date shift, one-null and both-null cells, and in the
  * free-text `note` column either a small edit (one to three substituted
  * characters, which sends the difflib matcher down its quadratic path) or
  * a rewrite. Each table is stored as `files` parquet files of contiguous
  * id ranges so a day's churn rewrites only the files it touches. */
final class DiffData(val seed: Long, val n: Int, val files: Int) extends Serializable {
  import DiffData._
  val nExtra: Int = n * 3 / 1000

  // Which ids get which planted kind: a low-discrepancy draw per kind (a
  // Weyl sequence with a seeded offset), so each kind hits its share of
  // the ids to within one id whatever the seed, and a run's work does not
  // drift with the seed. The steps are linearly independent irrationals,
  // so the kinds fall on ids independently of each other.
  private def plan(k: Long, salt: Long): Double = {
    val x = k * planStep(salt.toInt) + Rng.u(seed, 0, salt)
    x - math.floor(x)
  }

  def firstRow(k: Long): DiffRow = {
    val a = plan(k, 2); val d = plan(k, 3); val t = plan(k, 4)
    DiffRow(k,
      if (a >= 0.005 && a < 0.006 || a >= 0.007 && a < 0.009) None
      else Some(Rng.below(seed, k, 20, 10000000).toLong),
      if (d >= 0.003 && d < 0.004 || d >= 0.005 && d < 0.006) None
      else Some(18262 + Rng.below(seed, k, 21, 1500)),
      if (t >= 0.032 && t < 0.0325 || t >= 0.033 && t < 0.0335) None
      else Some(Rng.text(seed, k, 22, 80 + Rng.below(seed, k, 23, 161))))
  }

  def inFirst(k: Long): Boolean = k >= 0 && k < n
  def plantedMissingInSecond(k: Long): Boolean = k < n && plan(k, 1) < 0.003

  /** The replica's row for `k` at `version` (0 = as planted, v > 0 = after
    * the v-th daily update of that id). */
  def secondRow(k: Long, version: Int): DiffRow =
    if (k >= n) {
      // replica-only ids carry fresh values
      DiffRow(k, Some(Rng.below(seed, k, 30 + version, 10000000).toLong),
        Some(18262 + Rng.below(seed, k, 31 + version, 1500)),
        Some(Rng.text(seed, k, 32 + version, 80 + Rng.below(seed, k, 33, 161))))
    } else if (version == 0) {
      val f = firstRow(k)
      val a = plan(k, 2); val d = plan(k, 3); val t = plan(k, 4)
      DiffRow(k,
        if (a < 0.005) f.amountCents.map(_ + 1 + Rng.below(seed, k, 40, 9999))
        else if (a < 0.006) Some(Rng.below(seed, k, 41, 10000000).toLong)
        else if (a < 0.007) None
        else f.amountCents,
        if (d < 0.003) f.day.map(_ + 1 + Rng.below(seed, k, 42, 30))
        else if (d < 0.004) Some(18262 + Rng.below(seed, k, 43, 1500))
        else if (d < 0.005) None
        else f.day,
        if (t < 0.03) f.note.map(smallEdit(_, k, 44))
        else if (t < 0.032) Some(Rng.text(seed, k, 45, 80 + Rng.below(seed, k, 46, 161)))
        else if (t < 0.0325) Some(Rng.text(seed, k, 47, 120))
        else if (t < 0.033) None
        else f.note)
    } else {
      // a daily update: change one column, or repair the row to match
      val f = firstRow(k)
      val prev = secondRow(k, version - 1)
      Rng.below(seed, k, 50 + version, 5) match {
        case 0 | 1 => prev.copy(amountCents =
          Some(f.amountCents.getOrElse(0L) + 1 + Rng.below(seed, k, 60 + version, 9999)))
        case 2 => prev.copy(day =
          Some(f.day.getOrElse(18262) + 1 + Rng.below(seed, k, 70 + version, 30)))
        case 3 => prev.copy(note = Some(smallEdit(
          f.note.getOrElse(Rng.text(seed, k, 80 + version, 120)), k, 90 + version)))
        case _ => f
      }
    }

  /** Substitute one to three characters, each by a different letter. */
  def smallEdit(s: String, k: Long, salt: Long): String = {
    val cs = s.toCharArray
    val e = 1 + Rng.below(seed, k, salt, 3)
    for (i <- 0 until e) {
      val p = Rng.below(seed, k, salt * 31 + i, cs.length)
      val c = ('a' + Rng.below(seed, k, salt * 37 + i, 25)).toChar
      cs(p) = if (c >= cs(p)) (c + 1).toChar else c
    }
    new String(cs)
  }

  def fileOf(k: Long): Int =
    if (k < n) (k * files / n).toInt else java.lang.Math.floorMod(k - n, files.toLong).toInt

  def baseIds(f: Int): Iterator[Long] = {
    val lo = (f.toLong * n + files - 1) / files
    val hi = ((f + 1).toLong * n + files - 1) / files
    Iterator.range(lo, hi) ++
      Iterator.range(n.toLong + f, n.toLong + nExtra, files.toLong)
  }

  /** Write every file of one side. `second` selects the replica, whose
    * membership and row versions come from `st`. */
  def writeSide(spark: SparkSession, dir: String, second: Boolean,
      st: ReplicaState, only: Option[Set[Int]] = None): Unit = {
    val fs = only.getOrElse((0 until files).toSet).toSeq.sorted
    val versions = st.versions.toMap
    val deleted = st.deleted.toSet
    val inserted = st.inserted.toSeq.groupBy(fileOf)
    val self = this
    val rdd = spark.sparkContext.parallelize(fs, fs.size).flatMap { f =>
      val ids = self.baseIds(f) ++ inserted.getOrElse(f, Nil).iterator
      if (!second) ids.filter(self.inFirst).map(k => self.firstRow(k).toRow)
      else ids.filter(k => !self.plantedMissingInSecond(k) && !deleted(k))
        .map(k => self.secondRow(k, versions.getOrElse(k, 0)).toRow)
    }
    val tmp = s"$dir.__tmp"
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(tmp)
    // the i-th part file holds file fs(i): move it over that file's name
    val parts = new File(tmp).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName)
    require(parts.length == fs.size, s"expected ${fs.size} part files in $tmp")
    new File(dir).mkdirs()
    for ((p, f) <- parts.zip(fs)) {
      val dst = new File(dir, f"part-$f%05d.parquet")
      dst.delete()
      require(p.renameTo(dst), s"cannot move $p to $dst")
    }
    Files.deleteTree(new File(tmp))
  }
}

object DiffData {
  // the golden ratio, sqrt(2), sqrt(3) and sqrt(7), less their integer parts
  private val planStep = Array(0.0, 0.6180339887498949, 0.41421356237309515,
    0.7320508075688772, 0.6457513110645906)
  val schema: StructType = StructType(Seq(
    StructField("region", StringType), StructField("acct", LongType),
    StructField("amount", DoubleType), StructField("event_date", DateType),
    StructField("note", StringType)))
  val noteThreshold = 0.9
}

/** The replica's drift from the planted day-0 state: per-id update
  * versions, deleted ids and inserted ids. */
final class ReplicaState {
  val versions = mutable.HashMap.empty[Long, Int]
  val deleted = mutable.HashSet.empty[Long]
  val inserted = mutable.LinkedHashSet.empty[Long]
}

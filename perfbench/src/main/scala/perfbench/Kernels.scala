package perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.bloom.{BloomInitAgg, BloomMergeAgg}
import graft.dedup.{CharShingles, MinHashSignature, SimHash64}
import graft.freq.{FreqInitAgg, FreqMergeAgg}
import graft.hll.{HllFormat, Precision, SketchHash, StreamLibHll}
import graft.kll.{KllInitAgg, KllMergeAgg}
import graft.theta.{ThetaInitAgg, ThetaUnionAgg}

/**
 * Sketch and dedup kernel timings: warmed `System.nanoTime` loops over the
 * library's public kernel entry points (the sketch formats, the aggregate
 * expressions' update/merge, the shingle/MinHash/SimHash expressions), fed
 * with values drawn from the running workload's inputs. Each figure is the
 * median of [[Reps]] timed repetitions, in ns per
 * item (per value, per sketch merged, or per document), after untimed
 * repetitions for at least [[WarmNs]].
 */
object Kernels {
  final case class Inputs(longs: Array[Long], doubles: Array[Double],
      strings: Array[String], docs: Array[String])

  /** Untimed repetitions of each loop, for at least [[WarmNs]]. */
  val WarmNs = 100000000L
  val Reps = 7
  /** Values (documents) every loop is fed, cycling the workload's own. */
  val Values = 20000
  val Docs = 500
  /** Values per sketch in the update loops. */
  val PerSketch = 1000
  /** The precision every workload builds HLL sketches at (relativeSD 0.05). */
  val P: Int = Precision.forError(0.05)

  private def medianNsPerItem(items: Int)(body: => Unit): Double = {
    val warmUntil = System.nanoTime() + WarmNs
    while (System.nanoTime() < warmUntil) body
    val ts = (1 to Reps).map { _ =>
      val t = System.nanoTime()
      body
      (System.nanoTime() - t).toDouble / items
    }.sorted
    ts(ts.size / 2)
  }

  /** ns per row of `agg.update` over `rows`, a fresh buffer every [[PerSketch]] rows. */
  private def updateNs[T](agg: TypedImperativeAggregate[T], rows: Array[InternalRow]): Double =
    medianNsPerItem(rows.length) {
      var buf = agg.createAggregationBuffer()
      var i = 0
      while (i < rows.length) {
        if (i % PerSketch == 0) buf = agg.createAggregationBuffer()
        buf = agg.update(buf, rows(i))
        i += 1
      }
    }

  /** Serialized sketches, one per [[PerSketch]] rows. */
  private def sketches[T](agg: TypedImperativeAggregate[T], rows: Array[InternalRow]): Array[InternalRow] =
    rows.grouped(PerSketch).map { chunk =>
      var buf = agg.createAggregationBuffer()
      chunk.foreach(r => buf = agg.update(buf, r))
      InternalRow(agg.serialize(buf))
    }.toArray

  def run(raw: Inputs): Map[String, Double] = {
    def cycle[T: scala.reflect.ClassTag](xs: Array[T], n: Int): Array[T] = Array.tabulate(n)(i => xs(i % xs.length))
    val in = Inputs(cycle(raw.longs, Values), cycle(raw.doubles, Values), cycle(raw.strings, Values),
      cycle(raw.docs, Docs))
    val out = mutable.LinkedHashMap[String, Double]()
    val longRows = in.longs.map(l => InternalRow(l))
    val doubleRows = in.doubles.map(d => InternalRow(d))
    val stringRows = in.strings.map(s => InternalRow(UTF8String.fromString(s)))
    val hashes = in.longs.map(l => SketchHash.hashValue(l, LongType))

    var sink = 0L
    out("hll.hash_ns") = medianNsPerItem(in.longs.length) {
      var i = 0
      while (i < in.longs.length) { sink ^= SketchHash.hashValue(in.longs(i), LongType); i += 1 }
    }
    for (fmtName <- Seq("STRM", "DS", "GRAFT")) {
      val fmt = HllFormat.byName(fmtName)
      out(s"hll.offer_ns.$fmtName") = medianNsPerItem(hashes.length) {
        var inst = fmt.create(P)
        var i = 0
        while (i < hashes.length) {
          if (i % PerSketch == 0) inst = fmt.create(P)
          inst.offer(hashes(i))
          i += 1
        }
      }
      val bytes = hashes.grouped(PerSketch).map { chunk =>
        val inst = fmt.create(P)
        chunk.foreach(inst.offer)
        inst.serialize
      }.toArray
      val built = bytes.map(fmt.deserialize)
      out(s"hll.serialize_ns.$fmtName") = medianNsPerItem(built.length) {
        built.foreach(b => sink ^= b.serialize.length)
      }
      out(s"hll.deserialize_ns.$fmtName") = medianNsPerItem(bytes.length) {
        bytes.foreach(b => sink ^= fmt.deserialize(b).hashCode)
      }
      // merge reads its argument only, so the decoded sketches are reused
      out(s"hll.merge_ns.$fmtName") = medianNsPerItem(built.length) {
        val acc = fmt.create(P)
        built.foreach(acc.merge)
        sink ^= acc.serialize.length
      }
      out(s"hll.sketch_bytes.$fmtName") = bytes.map(_.length.toDouble).sum / bytes.length
    }
    out("hll.deserialize_ns.STRM_fast") = {
      val bytes = hashes.grouped(PerSketch).map { chunk =>
        val inst = StreamLibHll.create(P); chunk.foreach(inst.offer); inst.serialize
      }.toArray
      medianNsPerItem(bytes.length)(bytes.foreach(b => sink ^= StreamLibHll.deserializeFast(b).hashCode))
    }

    val longRef = BoundReference(0, LongType, nullable = true)
    val binRef = BoundReference(0, BinaryType, nullable = true)
    val theta = ThetaInitAgg(longRef)
    out("theta.update_ns") = updateNs(theta, longRows)
    out("theta.union_ns") = updateNs(ThetaUnionAgg(binRef), sketches(theta, longRows))
    val kll = KllInitAgg(BoundReference(0, DoubleType, nullable = true))
    out("kll.update_ns") = updateNs(kll, doubleRows)
    out("kll.merge_ns") = updateNs(KllMergeAgg(binRef), sketches(kll, doubleRows))
    val freq = FreqInitAgg(BoundReference(0, StringType, nullable = true))
    out("freq.update_ns") = updateNs(freq, stringRows)
    out("freq.merge_ns") = updateNs(FreqMergeAgg(binRef), sketches(freq, stringRows))
    val bloom = BloomInitAgg(BoundReference(0, StringType, nullable = true), Workloads.BloomItems)
    out("bloom.put_ns") = updateNs(bloom, stringRows)
    out("bloom.merge_ns") = updateNs(BloomMergeAgg(binRef, Workloads.BloomItems), sketches(bloom, stringRows))

    val docRows = in.docs.map(d => InternalRow(UTF8String.fromString(d)))
    val shingle = CharShingles(BoundReference(0, StringType, nullable = false), 5)
    out("dedup.shingle_ns_per_doc") = medianNsPerItem(docRows.length) {
      docRows.foreach(r => sink ^= shingle.eval(r).hashCode)
    }
    val shingleRows = docRows.map(r => InternalRow(shingle.eval(r)))
    val arrRef = BoundReference(0, ArrayType(StringType, containsNull = false), nullable = false)
    val minhash = MinHashSignature(arrRef, 128)
    out("dedup.minhash_ns_per_doc") = medianNsPerItem(shingleRows.length) {
      shingleRows.foreach(r => sink ^= minhash.eval(r).hashCode)
    }
    val tokenRows = in.docs.map { d =>
      InternalRow(new GenericArrayData(
        d.toLowerCase.split("\\s+").filter(_.nonEmpty).map(t => UTF8String.fromString(t): Any)))
    }
    val simhash = SimHash64(arrRef)
    out("dedup.simhash_ns_per_doc") = medianNsPerItem(tokenRows.length) {
      tokenRows.foreach(r => sink ^= simhash.eval(r).asInstanceOf[Long])
    }
    if (sink == 42L) System.err.print("")
    out.toMap
  }
}

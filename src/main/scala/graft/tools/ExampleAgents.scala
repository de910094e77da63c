package graft.tools

import graft.sources.UdfAgent
import graft.sources.UdfProto._

/** Runnable example agents built on [[graft.sources.UdfAgent]] — the
  * Scala analogs of the reference's `udf/agent/examples` (mirror,
  * moving_avg): real child processes the server-side runner spawns with
  * `java -cp <classpath> graft.tools.<Agent>`. They double as the
  * protocol's self-test: server half and agent half are independent code
  * paths meeting only on the wire (and both interoperate with the
  * spec's hand-rolled Python codec as a third implementation). */
object MirrorAgent {
  /** Echo every point back unchanged (examples/mirror). */
  def main(args: Array[String]): Unit =
    UdfAgent.run(new UdfAgent.Handler {
      def point(p: ProtoPoint, emit: ProtoPoint => Unit): Unit = emit(p)
    }, System.in, System.out)
}

object ScaleAgent {
  /** Multiply every double field by `.factor(f)` (init option or argv). */
  def main(args: Array[String]): Unit = {
    val argvFactor = args.headOption.map(_.toDouble)
    UdfAgent.run(new UdfAgent.Handler {
      private var factor = argvFactor.getOrElse(1.0)
      override def declaredOptions(): Map[String, Seq[Int]] =
        Map("factor" -> Seq(OptDouble(0).typeId))
      override def init(options: Seq[(String, Seq[OptVal])], taskId: String,
          nodeId: String): Either[String, Unit] = {
        options.collectFirst { case ("factor", Seq(OptDouble(f))) => f }
          .foreach(factor = _)
        Right(())
      }
      def point(p: ProtoPoint, emit: ProtoPoint => Unit): Unit =
        emit(p.copy(fieldsDouble = p.fieldsDouble.view.mapValues(_ * factor).toMap))
    }, System.in, System.out)
  }
}

object BatchStatsAgent {
  /** BATCH→BATCH: re-emits each input batch with every point augmented
    * by the batch's stats over `.field` (default "value") — int field
    * `batch_n` = point count, double field `vmax` = max (order-exact
    * arithmetic, unlike a float sum). The reference's outliers example
    * shape (udf/agent/examples/outliers): a batch in, a derived batch
    * out, meta carried Begin→End. */
  def main(args: Array[String]): Unit = {
    UdfAgent.run(new UdfAgent.Handler {
      private var field = args.headOption.getOrElse("value")
      private val buf = scala.collection.mutable.ArrayBuffer.empty[ProtoPoint]
      private var begin: ProtoBeginBatch = null
      override def info(): (Int, Int) = (UdfAgent.Batch, UdfAgent.Batch)
      override def init(options: Seq[(String, Seq[OptVal])], taskId: String,
          nodeId: String): Either[String, Unit] = {
        options.collectFirst { case ("field", Seq(OptString(f))) => f }
          .foreach(field = _)
        Right(())
      }
      override def beginBatch(b: ProtoBeginBatch, emit: UdfAgent.Emit): Unit = {
        begin = b
        buf.clear()
      }
      def point(p: ProtoPoint, emit: ProtoPoint => Unit): Unit = buf += p
      override def endBatch(e: ProtoEndBatch, emit: UdfAgent.Emit): Unit = {
        val vs = buf.flatMap(_.fieldsDouble.get(field))
        val vmax = if (vs.isEmpty) 0.0 else vs.max
        emit.beginBatch(begin.copy(size = buf.length.toLong))
        buf.foreach(p => emit.point(p.copy(
          fieldsDouble = p.fieldsDouble + ("vmax" -> vmax),
          fieldsInt = p.fieldsInt + ("batch_n" -> buf.length.toLong))))
        emit.endBatch(e)
        begin = null
      }
    }, System.in, System.out)
  }
}

object BatchAggAgent {
  /** BATCH→STREAM: one aggregate point per input batch (count + max of
    * `.field`) at the batch's tmax — the reference's moving_avg batch
    * handler shape (a batch collapses to a single emitted point). The
    * handler also serves socket sessions (`UdfAgent.serveSocket`). */
  def main(args: Array[String]): Unit = UdfAgent.run(handler(args.toSeq), System.in, System.out)

  def handler(args: Seq[String] = Nil): UdfAgent.Handler =
    new UdfAgent.Handler {
      private var field = args.headOption.getOrElse("value")
      private var n = 0L
      private var vmax = Double.NegativeInfinity
      private var tags = Map.empty[String, String]
      override def info(): (Int, Int) = (UdfAgent.Batch, UdfAgent.Stream)
      override def init(options: Seq[(String, Seq[OptVal])], taskId: String,
          nodeId: String): Either[String, Unit] = {
        options.collectFirst { case ("field", Seq(OptString(f))) => f }
          .foreach(field = _)
        Right(())
      }
      override def beginBatch(b: ProtoBeginBatch, emit: UdfAgent.Emit): Unit = {
        n = 0L
        vmax = Double.NegativeInfinity
        tags = b.tags
      }
      def point(p: ProtoPoint, emit: ProtoPoint => Unit): Unit = {
        p.fieldsDouble.get(field).foreach { v => if (v > vmax) vmax = v }
        n += 1
      }
      override def endBatch(e: ProtoEndBatch, emit: UdfAgent.Emit): Unit =
        emit.point(ProtoPoint(
          time = e.tmax, name = e.name, database = "", retentionPolicy = "",
          group = e.group, dimensions = Nil, tags = tags,
          // guard on the max actually having been fed, not the point
          // count — a non-empty batch whose points all lack the field
          // must not leak the -Infinity sentinel downstream
          fieldsDouble = Map("vmax" ->
            (if (vmax == Double.NegativeInfinity) 0.0 else vmax)),
          fieldsInt = Map("n" -> n), fieldsString = Map.empty,
          fieldsBool = Map.empty, byName = false))
    }
}

object CounterAgent {
  /** Stateful STREAM agent exercising the Snapshot/Restore RPC pair
    * (udf/server.go:289-315): every point gains int field `seq` = the
    * agent's lifetime point count; snapshot() encodes that count,
    * restore() resumes from it — state continuity across processes is
    * observable in the emitted sequence. */
  def main(args: Array[String]): Unit = {
    UdfAgent.run(new UdfAgent.Handler {
      private var n = 0L
      def point(p: ProtoPoint, emit: ProtoPoint => Unit): Unit = {
        n += 1
        emit(p.copy(fieldsInt = p.fieldsInt + ("seq" -> n)))
      }
      override def snapshot(): Array[Byte] =
        n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      override def restore(snapshot: Array[Byte]): Either[String, Unit] = {
        val s = new String(snapshot, java.nio.charset.StandardCharsets.UTF_8)
        try { n = s.toLong; Right(()) }
        catch { case _: NumberFormatException => Left(s"bad snapshot '$s'") }
      }
    }, System.in, System.out)
  }
}

object MovingAvgAgent {
  /** Per-(name, tags) moving average of `field` over a count window of
    * `size` — the reference's moving_avg example agent semantics: one
    * averaged point out per point in, averaging the last `size` values.
    * Options: .field('x') .size(n) .as('name') (init or argv). */
  def main(args: Array[String]): Unit = {
    UdfAgent.run(new UdfAgent.Handler {
      private var field = args.lift(0).getOrElse("value")
      private var size = args.lift(1).map(_.toInt).getOrElse(10)
      private var outAs = args.lift(2).getOrElse("avg")
      private val windows =
        scala.collection.mutable.Map.empty[(String, Map[String, String]), scala.collection.mutable.Queue[Double]]
      override def declaredOptions(): Map[String, Seq[Int]] = Map(
        "field" -> Seq(OptString("").typeId),
        "size" -> Seq(OptInt(0).typeId),
        "as" -> Seq(OptString("").typeId))
      override def init(options: Seq[(String, Seq[OptVal])], taskId: String,
          nodeId: String): Either[String, Unit] = {
        options.foreach {
          case ("field", Seq(OptString(f))) => field = f
          case ("size", Seq(OptInt(n)))     => size = n.toInt
          case ("as", Seq(OptString(a)))    => outAs = a
          case (other, _) => return Left(s"unknown option $other")
        }
        if (size < 1) Left(s"size must be >= 1, got $size") else Right(())
      }
      def point(p: ProtoPoint, emit: ProtoPoint => Unit): Unit =
        p.fieldsDouble.get(field).foreach { v =>
          val q = windows.getOrElseUpdate((p.name, p.tags),
            scala.collection.mutable.Queue.empty[Double])
          q.enqueue(v)
          if (q.length > size) q.dequeue()
          emit(p.copy(fieldsDouble = Map(outAs -> q.sum / q.length)))
        }
    }, System.in, System.out)
  }
}

package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-independent content digest of a result: row count plus the sum
  * of per-row md5 hashes folded to 31 bits, doubles rounded to 6 places —
  * the row hash of SparkEntry's q40t_triples_hash, over all columns. */
final case class Digest(rows: Long, hash: Long) {
  def json: String = s"$rows:$hash"
}

object Digest {
  def of(df: DataFrame): Digest = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case _ => col(f.name)
      }
      coalesce(c.cast("string"), lit("\\N"))
    }
    val rowKey = concat_ws("\u0001", cols: _*)
    val h = pmod(conv(substring(md5(rowKey), 1, 15), 16, 10).cast("long"),
      lit(2147483648L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }
}

/** One timed operation: wall seconds, input and output rows, the output
  * digest, and whether it matched the reference (the first operation's
  * digest, or a stated expectation). */
final case class OpRecord(kind: String, wallS: Double, rowsIn: Long,
                          rowsOut: Long, digest: String, ok: Boolean,
                          error: String = null) {
  def json: String = Json.obj("kind" -> kind, "wall_s" -> wallS,
    "rows_in" -> rowsIn, "rows_out" -> rowsOut, "digest" -> digest,
    "ok" -> ok, "error" -> error)
}

/** A named whole-run output check. */
final case class Check(name: String, ok: Boolean, detail: String) {
  def json: String = Json.obj("name" -> name, "ok" -> ok, "detail" -> detail)
}

/** Collects operation records and checks for one run; `afterOp` runs
  * after each operation, outside its timed interval. */
final class Ledger(afterOp: () => Unit) {
  val ops = ArrayBuffer[OpRecord]()
  val checks = ArrayBuffer[Check]()
  val counts = ArrayBuffer[(String, Double)]()

  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += Check(name, ok, detail)

  def count(name: String, v: Double): Unit = counts += name -> v

  /** Time `body` alone; `verify` then derives (input rows, output digest)
    * outside the timed interval and `ok` judges the digest. A throwing
    * operation is recorded as failed, not fatal. */
  def timed[A](kind: String)(body: => A)(verify: A => (Long, Digest))(
      ok: Digest => Boolean): OpRecord = {
    val t0 = System.nanoTime()
    var dt = 0.0
    val rec = try {
      val a = body
      dt = (System.nanoTime() - t0) / 1e9
      val (in, dig) = verify(a)
      OpRecord(kind, dt, in, dig.rows, dig.json, ok(dig))
    } catch {
      case NonFatal(e) =>
        if (dt == 0.0) dt = (System.nanoTime() - t0) / 1e9
        OpRecord(kind, dt, 0L, 0L, "", ok = false,
          error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
    ops += rec
    afterOp()
    rec
  }

  def json(extra: (String, Any)*): String = Json.obj(Seq(
    "ops" -> Json.Raw(Json.arr(ops.map(_.json))),
    "checks" -> Json.Raw(Json.arr(checks.map(_.json))),
    "counts" -> Json.Raw(Json.obj(counts.toSeq: _*))) ++ extra: _*)
}

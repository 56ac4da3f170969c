package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, format_string, lit, when}

/** The CDC event mix, made from a seed, and what the pipeline must land
  * for it. Two entity types; 1-2 record ids per event; 20 % DELETE; 1 %
  * malformed JSON. Record keys are drawn from a space 20 % larger than the
  * snapshot, so about one enrichment lookup in six misses. Event `i` is
  * published as replayId `i + 1` on a fresh topic. */
final class CdcLoad(seed: Long, val n: Int) {
  import CdcLoad._

  val entity: Array[Int] = new Array[Int](n)
  val change: Array[String] = new Array[String](n)
  val keys: Array[Array[Int]] = new Array[Array[Int]](n)
  val malformed: Array[Boolean] = new Array[Boolean](n)

  locally {
    val rnd = new java.util.SplittableRandom(seed)
    var i = 0
    while (i < n) {
      entity(i) = rnd.nextInt(2)
      val c = rnd.nextInt(100)
      change(i) = if (c < 20) "DELETE" else if (c < 40) "CREATE" else if (c < 95) "UPDATE" else "UNDELETE"
      val k0 = rnd.nextInt(KeySpace)
      keys(i) = if (rnd.nextInt(10) < 3) Array(k0, rnd.nextInt(KeySpace)) else Array(k0)
      malformed(i) = rnd.nextInt(100) == 0
      i += 1
    }
  }

  def json(i: Int, commitMs: Long): String = {
    val e = entity(i)
    val ids = keys(i).map(k => "\"" + id(e, k) + "\"").mkString(",")
    val s =
      s"""{"schema":"fp${e}","payload":{"Name":"${Entities(e)}-${keys(i)(0)}",""" +
        s""""ChangeEventHeader":{"commitNumber":$i,"commitUser":"005000000000001",""" +
        s""""sequenceNumber":1,"entityName":"${Entities(e)}","changeType":"${change(i)}",""" +
        s""""changedFields":["Name"],"changeOrigin":"com/salesforce/api/soap/48.0",""" +
        s""""transactionKey":"tk-$i","commitTimestamp":$commitMs,"recordIds":[$ids]}},""" +
        s""""event":{"replayId":${i + 1}}}"""
    if (malformed(i)) s.dropRight(7) else s
  }

  /** Sink rows event `i` must produce, keyed (type, Id, UIND, Name). */
  def records(i: Int): Seq[(String, String, String, String)] =
    if (malformed(i)) Nil
    else keys(i).distinct.toSeq.flatMap { k =>
      val ent = Entities(entity(i))
      if (change(i) == "DELETE") Some((ent, id(entity(i), k), "DELETE", ""))
      else if (k < SnapshotPerEntity) Some((ent, id(entity(i), k), change(i), name(entity(i), k)))
      else None
    }

  def changeRows(i: Int): Int = if (malformed(i)) 0 else keys(i).distinct.length
  def misses(i: Int): Int =
    if (malformed(i) || change(i) == "DELETE") 0
    else keys(i).distinct.count(_ >= SnapshotPerEntity)
}

object CdcLoad {
  val Entities: Array[String] = Array("Account", "Contact")
  val Prefixes: Array[String] = Array("001", "003")
  val SnapshotPerEntity = 50000
  val KeySpace = 60000

  def id(entity: Int, key: Int): String = f"${Prefixes(entity)}$key%012d"
  def name(entity: Int, key: Int): String = s"${Entities(entity)} $key"

  /** The lookup side: 100k current records, 50k per entity. */
  def snapshot(spark: SparkSession): DataFrame = {
    val e = (col("id") >= SnapshotPerEntity).cast("int")
    val k = col("id") % SnapshotPerEntity
    spark.range(0, 2L * SnapshotPerEntity, 1, 4)
      .select(
        concat(when(e === 0, lit(Prefixes(0))).otherwise(lit(Prefixes(1))),
          format_string("%012d", k)).as("Id"),
        concat(when(e === 0, lit(Entities(0))).otherwise(lit(Entities(1))), lit(" "),
          k.cast("string")).as("Name"),
        concat(lit("005"), format_string("%012d", k % 97)).as("OwnerId"),
        (k * 10.5).as("AnnualRevenue"))
  }
}

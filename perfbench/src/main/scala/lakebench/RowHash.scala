package lakebench

import graft.rtb.RtbIngest
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result fingerprints and multiset comparison. */
object RowHash {
  /** One canonical string per cell: doubles rounded to 6 places so a
    * last-bit difference in summation order does not change the hash.
    */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6).cast(StringType)
    case _: ArrayType | _: MapType | _: StructType => to_json(c)
    case BinaryType => base64(c)
    case _ => c.cast(StringType)
  }

  /** (row count, sum of per-row 64-bit hashes as a decimal string). */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cells = df.schema.fields.toSeq.map(f =>
      coalesce(canon(col(s"`${f.name}`"), f.dataType), lit("\u0000N")))
    val row = df.select(xxhash64(concat_ws("\u0001", cells: _*)).cast(DecimalType(38, 0)).as("h"))
    val r = row.agg(count(lit(1)), sum(col("h"))).collect().head
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString)
  }

  /** None when `a` and `b` hold the same multiset of rows. */
  def sameRows(a: DataFrame, b: DataFrame, hint: String): Option[String] = {
    val onlyA = a.exceptAll(b).count()
    val onlyB = b.exceptAll(a).count()
    if (onlyA == 0 && onlyB == 0) None
    else Some(s"$hint: $onlyA rows only in the first, $onlyB only in the second")
  }
}

/** Batch twins of the streaming jobs' outputs. */
object BatchTwin {
  /** The geo aggregation as one batch query over raw requests and
    * impressions: clean and dedup requests, dedup impressions, join each
    * impression to its request within 15 s before it, aggregate per hour
    * and country.
    */
  def geo(req: DataFrame, imp: DataFrame): DataFrame = {
    val rB = RtbIngest.cleanRequests(RtbIngest.flattenRequests(req))
      .select(col("request_id"), col("device_geo_country").as("country"), col("event_ts"))
      .dropDuplicates("request_id").alias("r")
    val iB = imp.withColumn("event_ts", RtbIngest.parseTs(col("event_timestamp")))
      .dropDuplicates("impression_id").alias("i")
    iB.join(rB, expr("""i.request_id = r.request_id AND
             |r.event_ts BETWEEN i.event_ts - INTERVAL 15 SECONDS AND i.event_ts""".stripMargin))
      .select(date_trunc("hour", col("i.event_ts")).as("hour"), col("r.country"),
        round(col("i.win_price") * 100).cast("long").as("win_cents"))
      .groupBy(col("hour"), col("country"))
      .agg(count(lit(1)).as("n_impressions"), sum(col("win_cents")).as("total_win_cents"))
  }
}

/** Commit-log ledger of a catalog over the measured window (traced runs). */
object TableStats {
  def record(ctx: Ctx, cat: graft.tables.TableCatalog, ops: Int,
      loopStartMs: Long, loopEndMs: Long): Unit = {
    var commits = 0
    var bookkeeping = 0
    var filesAdded = 0L
    var liveFiles = 0L
    var liveBytes = 0L
    var liveRows = 0L
    cat.names.foreach { name =>
      val t = cat.table(name)
      val cs = t.commits
      cs.zip(cs.drop(1)).foreach { case (prev, c) =>
        if (c.tsMs >= loopStartMs && c.tsMs <= loopEndMs) {
          commits += 1
          val added = (c.files.toSet -- prev.files).size
          filesAdded += added
          if (added == 0) bookkeeping += 1
        }
      }
      cs.lastOption.foreach { c =>
        liveFiles += c.files.size
        liveRows += c.rowCount
        liveBytes += c.files.map(f => new java.io.File(s"${t.dataPath}/$f").length()).sum
      }
    }
    val n = math.max(1, ops).toDouble
    ctx.runValues("tables.commits_per_op") = commits / n
    ctx.runValues("tables.files_per_op") = filesAdded / n
    ctx.runValues("tables.bookkeeping_commit_ratio") =
      if (commits == 0) 0.0 else bookkeeping.toDouble / commits
    ctx.runValues("tables.bytes_per_row") = if (liveRows == 0) 0.0 else liveBytes.toDouble / liveRows
    ctx.runValues("tables.live_files") = liveFiles.toDouble
  }
}

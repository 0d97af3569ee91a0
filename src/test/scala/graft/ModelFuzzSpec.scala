package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.TableCatalog

/** Model-based randomized op-sequence fuzzing of the table format.
  *
  * Every hand-written spec tests ONE cell of the interaction matrix
  * (DVs × column mapping × type widening × constraints × checkpoints
  * × CDC × compaction). This suite applies a long seeded-random
  * sequence of table operations against a trivial in-memory model and
  * validates, every K ops:
  *   - full read == model (values, through mapping/widening/DV masks),
  *   - fastCount == model size,
  *   - time travel at head-1 == the model snapshot taken then,
  *   - change-feed reconstruction: snapshot(from-1) + feed == snapshot(head)
  *     over spans free of schema-changing commits.
  * Writes go through the catalog API and, for a share of appends,
  * deletes, updates and replaces, through the connector write paths
  * (DSv2 `writeTo` append — empty too — and `writeTo.overwrite(cond)`,
  * SQL `UPDATE`/`DELETE`) of a per-run `GraftCatalog`.
  * Three fixed seeds run in CI on a flat table and one on a table
  * partitioned by `p = id % 4` (a column no op renames, drops or
  * widens); any falsification becomes a named regression test. */
class ModelFuzzSpec extends SparkTestBase {

  private case class MRow(id: Long, qty: Long, price: Option[Double],
      tag: Option[String])

  /** One fuzz run: `nOps` random operations under `seed`; a
    * `partitioned` table carries `p = id % 4` as its partition column. */
  // scalastyle:off method.length cyclomatic.complexity
  private def runFuzz(seed: Int, nOps: Int, partitioned: Boolean = false): Unit = {
    val rnd = new scala.util.Random(seed)
    val root = tempDir(s"fuzz_$seed")
    val cat = new TableCatalog(spark, root)
    val t = s"D.S.FUZZ$seed"

    // ---- model state ----
    val model = mutable.LinkedHashMap.empty[Long, MRow]
    var nextId = 0L
    var qtyLong = false      // qty chain type: int until widened
    var hasPrice = true
    var priceName = "price"  // constant; hasPrice toggles via drop/re-add
    var tagName = "tag"      // rename target: tag <-> label
    var checkActive = false  // CHECK (price >= 0)
    var nnActive = false     // NOT NULL on the tag column
    var lastSchemaChangeV = Int.MaxValue // no feed across these (set on
                                         // rename/drop/add/overwrite)
    var feedFloor = 0                    // no feed across a vacuum
    var lastRewriteV = 0                 // chain-retiring commits: the
                                         // pruner deletes pre-rewrite
                                         // append dirs two commits on,
                                         // so feed spans start at the
                                         // latest rewrite (CDC-served)
    // version -> (sorted row keys, hasPrice, tagName) at that commit
    val snapshots = mutable.Map.empty[Int, (Seq[String], Boolean, String)]
    val trace = mutable.Buffer.empty[String]

    def part(id: Long): String = if (partitioned) s"|${Math.floorMod(id, 4L)}" else ""
    def key(id: Long, qty: Long, price: Option[Double], tag: Option[String])
        : String =
      s"$id|$qty|${if (hasPrice) price.map(_.toString).getOrElse("null") else ""}|${tag.getOrElse("null")}${part(id)}"
    def modelKeys: Seq[String] =
      model.values.map(r => key(r.id, r.qty, r.price, r.tag)).toSeq.sorted

    def freshRows(n: Int): Seq[MRow] = (1 to n).map { _ =>
      nextId += 1
      MRow(nextId, rnd.nextInt(1000).toLong,
        Some(rnd.nextInt(500).toDouble),
        if (!nnActive && rnd.nextDouble() < 0.1) None
        else Some(s"t${rnd.nextInt(50)}"))
    }

    /** Build a frame matching the CURRENT logical schema. */
    def frame(rows: Seq[MRow], qtyAsLong: Boolean): DataFrame = {
      val fields = mutable.Buffer(StructField("id", LongType),
        StructField("qty", if (qtyAsLong) LongType else IntegerType))
      if (hasPrice) fields += StructField(priceName, DoubleType)
      fields += StructField(tagName, StringType)
      if (partitioned) fields += StructField("p", IntegerType)
      val data = rows.map { r =>
        val vals = mutable.Buffer[Any](r.id,
          if (qtyAsLong) r.qty else r.qty.toInt)
        if (hasPrice) vals += r.price.map(Double.box).orNull
        vals += r.tag.orNull
        if (partitioned) vals += Math.floorMod(r.id, 4L).toInt
        Row(vals.toSeq: _*)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(data.toSeq, 1),
        StructType(fields.toSeq))
    }

    def observed(dfr: DataFrame, withPrice: Boolean, tn: String)
        : Seq[String] = {
      val cols = Seq(col("id").cast("long"), col("qty").cast("long")) ++
        (if (withPrice) Seq(col(priceName)) else Nil) ++ Seq(col(s"`$tn`")) ++
        (if (partitioned) Seq(col("p").cast("long")) else Nil)
      dfr.select(cols: _*).collect().map { r =>
        val price = if (withPrice) {
          if (r.isNullAt(2)) "null" else r.getDouble(2).toString
        } else ""
        val tagIdx = if (withPrice) 3 else 2
        val tag = if (r.isNullAt(tagIdx)) "null" else r.getString(tagIdx)
        val p = if (partitioned) s"|${r.getLong(tagIdx + 1)}" else ""
        s"${r.getLong(0)}|${r.getLong(1)}|$price|$tag$p"
      }.toSeq.sorted
    }

    def ctx: String = trace.takeRight(25).mkString("\n  ")

    def snap(): Unit = {
      val v = cat.version(t).get
      snapshots(v) = (modelKeys, hasPrice, tagName)
    }

    def validate(opIdx: Int): Unit = {
      val got = observed(cat.read(t), hasPrice, tagName)
      assert(got == modelKeys,
        s"[seed=$seed op=$opIdx] full read diverged from model\n" +
          s"extra=${got.diff(modelKeys).take(5)} " +
          s"missing=${modelKeys.diff(got).take(5)}\nops:\n  $ctx")
      cat.fastCount(t).foreach(c => assert(c == model.size,
        s"[seed=$seed op=$opIdx] fastCount $c != ${model.size}\nops:\n  $ctx"))
      val head = cat.version(t).get
      snapshots.get(head - 1).foreach { case (exp, hp, tn) =>
        val tt = observed(cat.readVersion(t, head - 1), hp, tn)
        assert(tt == exp,
          s"[seed=$seed op=$opIdx] time travel v${head - 1} diverged\nops:\n  $ctx")
      }
    }

    def validateFeed(opIdx: Int): Unit = {
      val head = cat.version(t).get
      // a span [fromV..head] with snapshots at fromV-1 and head, free
      // of schema changes, above the vacuum floor, and not reaching
      // back past the latest chain-retiring rewrite
      val floor = Seq(feedFloor, lastRewriteV,
        if (lastSchemaChangeV == Int.MaxValue) 1
        else lastSchemaChangeV + 2).max
      val candidates = (floor to head)
        .filter(v => snapshots.contains(v - 1))
      if (candidates.isEmpty || !snapshots.contains(head)) return
      if (lastSchemaChangeV != Int.MaxValue && head <= lastSchemaChangeV) return
      val fromV = candidates.head
      val feed = spark.read.format("graft")
        .option("root", root).option("table", t)
        .option("readChangeFeed", "true")
        .option("startingVersion", fromV.toString).load()
        .filter(col("_commit_version") <= head)
      val byVersion = feed.collect().groupBy(_.getAs[Int]("_commit_version"))
      val state = mutable.Set[String](snapshots(fromV - 1)._1: _*)
      byVersion.keys.toSeq.sorted.foreach { v =>
        val rows = byVersion(v)
        def keyOfFeedRow(r: Row): String = {
          val price = if (hasPrice) {
            val i = r.fieldIndex(priceName)
            if (r.isNullAt(i)) "null" else r.getDouble(i).toString
          } else ""
          val qi = r.fieldIndex("qty")
          val qty = r.get(qi) match {
            case i: Int => i.toLong case l: Long => l
          }
          val ti = r.fieldIndex(tagName)
          val tag = if (r.isNullAt(ti)) "null" else r.getString(ti)
          val p = if (partitioned) s"|${r.get(r.fieldIndex("p"))}" else ""
          s"${r.getLong(r.fieldIndex("id"))}|$qty|$price|$tag$p"
        }
        rows.filter(_.getAs[String]("_change_type") == "delete")
          .foreach(r => state -= keyOfFeedRow(r))
        rows.filter(_.getAs[String]("_change_type") == "insert")
          .foreach(r => state += keyOfFeedRow(r))
      }
      val expect = snapshots(head)._1
      assert(state.toSeq.sorted == expect,
        s"[seed=$seed op=$opIdx] feed replay v$fromV..v$head diverged\n" +
          s"extra=${state.toSeq.diff(expect).take(5)} " +
          s"missing=${expect.diff(state.toSeq).take(5)}\nops:\n  $ctx")
    }

    // ---- run ----
    spark.conf.set("graft.flatCheckpointInterval", "4")
    val gc = s"fuzzcat$seed"
    spark.conf.set(s"spark.sql.catalog.$gc", "graft.connector.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$gc.root", root)
    val sqlT = s"$gc.$t"
    def overwrite(df: DataFrame): Unit =
      if (partitioned) cat.overwritePartitioned(t, df, Seq("p"))
      else cat.overwrite(t, df)
    try {
      val init = freshRows(6)
      overwrite(frame(init, qtyAsLong = false))
      init.foreach(r => model(r.id) = r)
      snap()

      (1 to nOps).foreach { opIdx =>
        val dice = rnd.nextDouble()
        var committed = true
        if (dice < 0.18) { // append (catalog, or DSv2 — possibly empty)
          val dsv2 = rnd.nextDouble() < 0.4
          val rows = freshRows((if (dsv2) 0 else 1) + rnd.nextInt(6))
          trace += s"$opIdx append ${rows.size} dsv2=$dsv2"
          if (dsv2) frame(rows, qtyLong).writeTo(sqlT).append()
          else cat.append(t, frame(rows, qtyLong))
          rows.foreach(r => model(r.id) = r)
        } else if (dice < 0.21) { // DSv2 replace where id in [lo, hi)
          val lo = rnd.nextInt(nextId.toInt + 1).toLong
          val hi = lo + 1 + rnd.nextInt(4)
          val rows = freshRows(rnd.nextInt(4))
          trace += s"$opIdx replaceWhere id in [$lo,$hi) +${rows.size}"
          frame(rows, qtyLong).writeTo(sqlT)
            .overwrite(col("id") >= lo && col("id") < hi)
          model.filterInPlace((id, _) => id < lo || id >= hi)
          rows.foreach(r => model(r.id) = r)
        } else if (dice < 0.24) { // overwrite (fresh chain; constraints ride)
          val rows = freshRows(2 + rnd.nextInt(5))
          val asLong = rnd.nextBoolean()
          trace += s"$opIdx overwrite ${rows.size} qtyLong=$asLong"
          overwrite(frame(rows, asLong))
          model.clear(); rows.foreach(r => model(r.id) = r)
          qtyLong = asLong
          lastSchemaChangeV = cat.version(t).get // fresh chain: no feed across
        } else if (dice < 0.36 && model.nonEmpty) { // delete (DV or COW)
          val m = 2 + rnd.nextInt(5); val r0 = rnd.nextInt(m)
          val cow = rnd.nextDouble() < 0.3
          val sql = !cow && rnd.nextBoolean()
          trace += s"$opIdx delete id%$m==$r0 cow=$cow sql=$sql"
          val pred = pmod(col("id"), lit(m.toLong)) === r0.toLong
          if (cow) cat.deleteWhere(t, pred)
          else if (sql) spark.sql(s"DELETE FROM $sqlT WHERE pmod(id, $m) = $r0")
          else cat.deleteWhereDV(t, pred)
          if (cow) lastRewriteV = cat.version(t).get
          model.filterInPlace((id, _) => math.floorMod(id, m.toLong) != r0)
        } else if (dice < 0.48 && model.nonEmpty) { // update (DV or COW)
          val m = 2 + rnd.nextInt(5); val r0 = rnd.nextInt(m)
          val cow = rnd.nextDouble() < 0.3
          val sql = !cow && rnd.nextBoolean()
          trace += s"$opIdx update qty+=7 id%$m==$r0 cow=$cow sql=$sql"
          val pred = pmod(col("id"), lit(m.toLong)) === r0.toLong
          val assign = Map("qty" -> (col("qty") + lit(7)))
          if (cow) cat.updateWhere(t, assign, pred)
          else if (sql)
            spark.sql(s"UPDATE $sqlT SET qty = qty + 7 WHERE pmod(id, $m) = $r0")
          else cat.updateWhereDV(t, assign, pred)
          if (cow) lastRewriteV = cat.version(t).get
          model.mapValuesInPlace { (id, r) =>
            if (math.floorMod(id, m.toLong) == r0) r.copy(qty = r.qty + 7) else r
          }
        } else if (dice < 0.58) { // merge upsert on id
          val existing = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
          val fresh = freshRows(1 + rnd.nextInt(3))
          val updated = existing.map { id =>
            MRow(id, rnd.nextInt(1000).toLong, Some(rnd.nextInt(500).toDouble),
              if (!nnActive && rnd.nextDouble() < 0.1) None
              else Some(s"m${rnd.nextInt(50)}"))
          }
          val src = updated ++ fresh
          trace += s"$opIdx merge upd=${updated.size} new=${fresh.size}"
          cat.merge(t, frame(src, qtyLong), Seq("id"))
          lastRewriteV = cat.version(t).get
          src.foreach(r => model(r.id) = r)
        } else if (dice < 0.63) { // compact
          trace += s"$opIdx compact"
          cat.compact(t)
          lastRewriteV = cat.version(t).get
        } else if (dice < 0.66) { // z-order recluster
          trace += s"$opIdx zorder(id)"
          cat.compactZOrder(t, Seq("id"))
          lastRewriteV = cat.version(t).get
        } else if (dice < 0.71) { // rename tag <-> label
          val to = if (tagName == "tag") "label" else "tag"
          trace += s"$opIdx rename $tagName->$to"
          cat.alterRenameColumn(t, tagName, to)
          tagName = to
          lastSchemaChangeV = cat.version(t).get
        } else if (dice < 0.75 && !qtyLong) { // widen qty int->long
          val rows = freshRows(1 + rnd.nextInt(3))
          trace += s"$opIdx widen qty->long (+${rows.size})"
          cat.append(t, frame(rows, qtyAsLong = true))
          rows.foreach(r => model(r.id) = r)
          qtyLong = true
        } else if (dice < 0.78 && hasPrice && !checkActive) { // drop price
          trace += s"$opIdx drop price"
          cat.alterDropColumns(t, Seq(priceName))
          hasPrice = false
          lastSchemaChangeV = cat.version(t).get
        } else if (dice < 0.81 && !hasPrice) { // re-add price (reads NULL)
          trace += s"$opIdx re-add price"
          cat.alterAddColumns(t, StructType(Seq(
            StructField(priceName, DoubleType))))
          hasPrice = true
          model.mapValuesInPlace((_, r) => r.copy(price = None))
          lastSchemaChangeV = cat.version(t).get
        } else if (dice < 0.85 && hasPrice && !checkActive) { // add CHECK
          trace += s"$opIdx add check price>=0"
          cat.alterAddCheck(t, "price_pos", s"$priceName >= 0")
          checkActive = true
        } else if (dice < 0.87 && checkActive) { // drop CHECK
          trace += s"$opIdx drop check"
          cat.alterDropConstraint(t, "price_pos")
          checkActive = false
        } else if (dice < 0.90 && !nnActive &&
            model.values.forall(_.tag.nonEmpty)) { // add NOT NULL on tag
          trace += s"$opIdx add notnull $tagName"
          cat.alterAddNotNull(t, tagName)
          nnActive = true
        } else if (dice < 0.92 && nnActive) { // drop NOT NULL
          trace += s"$opIdx drop notnull"
          cat.notNullConstraintOf(t, tagName)
            .foreach(c => cat.alterDropConstraint(t, c.name))
          nnActive = false
        } else if (dice < 0.94) { // vacuum: feed horizon moves
          trace += s"$opIdx vacuum keep=2"
          cat.vacuum(t, 2)
          // a feed span's FIRST commit needs its predecessor's files
          // (file-diff reconstruction), so spans must start strictly
          // after the vacuum head
          feedFloor = cat.version(t).get + 1
          committed = false
        } else { // rejection probes: loud failure, state unchanged
          committed = false
          if (checkActive && hasPrice) {
            trace += s"$opIdx probe: violating append rejects"
            intercept[Exception] { cat.append(t,
              frame(Seq(MRow(-1L, 1L, Some(-5.0), Some("x"))), qtyLong)) }
          } else if (nnActive) {
            trace += s"$opIdx probe: null-tag append rejects"
            intercept[Exception] { cat.append(t,
              frame(Seq(MRow(-2L, 1L, Some(1.0), None)), qtyLong)) }
          } else {
            trace += s"$opIdx probe: rename onto live name rejects"
            intercept[Exception] { cat.alterRenameColumn(t, "qty", "id") }
          }
        }
        if (committed) snap()
        if (opIdx % 8 == 0) validate(opIdx)
        if (opIdx % 24 == 0) validateFeed(opIdx)
      }
      validate(nOps)
      validateFeed(nOps)
    } finally {
      spark.conf.unset("graft.flatCheckpointInterval")
      spark.conf.unset(s"spark.sql.catalog.$gc")
      spark.conf.unset(s"spark.sql.catalog.$gc.root")
    }
  }
  // scalastyle:on method.length cyclomatic.complexity

  test("fuzz: 100 random ops vs model, seed 12") { runFuzz(12, 100) }
  test("fuzz: 100 random ops vs model, seed 34") { runFuzz(34, 100) }
  test("fuzz: 100 random ops vs model, seed 56") { runFuzz(56, 100) }
  test("fuzz: 48 random ops vs model on a partitioned table, seed 78") {
    runFuzz(78, 48, partitioned = true)
  }
}

package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** What the inventory-wide tests check about one registered query. */
final case class QueryFindings(
    name: String,
    buildError: Option[String] = None,
    columns: Int = 0,
    decimalPaths: Seq[String] = Nil,
    cartesian: Boolean = false,
    cachedScan: Boolean = false,
    leaksCache: Boolean = false,
    unpartitionedWindows: Int = 0,
    unprunedScans: Seq[String] = Nil)

/** One pass over [[SparkEntry.registry]] per test-data directory, shared
  * by the inventory-wide tests of EntrySpec and PlanAuditSpec: each query
  * is built and planned once, not once per test. Only the small findings
  * are kept — never a DataFrame or a plan — so the blocks an operator pins
  * while building (localCheckpoint) are released as the pass moves on.
  */
object InventoryAudit extends org.scalatest.Assertions {

  private val passes = scala.collection.mutable.Map.empty[Tables, Seq[QueryFindings]]

  /** The findings of every query over `t`, failing the calling test if
    * any query did not build.
    */
  def built(t: Tables): Seq[QueryFindings] = {
    val findings = synchronized(passes.getOrElseUpdate(t, pass(t)))
    val failed = findings.flatMap(f => f.buildError.map(e => s"${f.name}: $e"))
    assert(failed.isEmpty, s"queries that fail to build:\n${failed.mkString("\n")}")
    findings
  }

  private def pass(t: Tables): Seq[QueryFindings] = {
    val tableWidths = Map(
      "events" -> t.events.schema.size,
      "lineitem" -> t.lineitem.schema.size,
      "documents" -> t.documents.schema.size)
    t.spark.catalog.clearCache()
    SparkEntry.registry.map { d =>
      try audit(t, d, tableWidths)
      catch { case NonFatal(e) => QueryFindings(d.name, buildError = Some(e.toString)) }
      // operators may persist intermediates for as long as their plan
      // lives; release them so the next query starts from an empty cache
      finally t.spark.catalog.clearCache()
    }
  }

  private def audit(t: Tables, d: QueryDef,
      tableWidths: Map[String, Int]): QueryFindings = {
    val df = d.build(Tables(t.spark, t.dir))
    val schema = df.schema
    val plan = df.queryExecution.executedPlan.toString
    QueryFindings(d.name,
      columns = schema.size,
      decimalPaths = schema.fields.toSeq.flatMap(f =>
        decimals(f.dataType, s"${d.name}.${f.name}")),
      // BroadcastNestedLoopJoin appears for broadcast-1-row crossJoins,
      // which are bounded by construction; CartesianProduct is the
      // unbounded shuffle-side catastrophe
      cartesian = plan.contains("CartesianProduct"),
      cachedScan = plan.contains("InMemoryTableScan"),
      // checked before the pass's per-query clearCache()
      leaksCache = !t.spark.sharedState.cacheManager.isEmpty,
      unpartitionedWindows = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.size,
      unprunedScans = unpruned(d.name, plan, tableWidths))
  }

  private def decimals(dt: DataType, path: String): Seq[String] = dt match {
    case _: DecimalType => Seq(path)
    case s: StructType =>
      s.fields.toSeq.flatMap(f => decimals(f.dataType, s"$path.${f.name}"))
    case a: ArrayType => decimals(a.elementType, s"$path[]")
    case m: MapType =>
      decimals(m.keyType, s"$path<key>") ++ decimals(m.valueType, s"$path<val>")
    case _ => Nil
  }

  /** Scans of a wide table that read every one of its columns; each scan
    * line carries `ReadSchema: struct<...>`, whose fields are counted.
    */
  private def unpruned(name: String, plan: String,
      tableWidths: Map[String, Int]): Seq[String] =
    plan.linesIterator.flatMap { line =>
      val i = line.indexOf("ReadSchema: struct<")
      if (i < 0) None
      else {
        val spec = line.substring(i + "ReadSchema: struct<".length)
          .takeWhile(_ != '>')
        val nCols = if (spec.trim.isEmpty) 0 else spec.count(_ == ':')
        tableWidths.collectFirst {
          case (tbl, width) if line.contains(s"$tbl.parquet") && nCols >= width && width > 2 =>
            s"$name reads all $nCols cols of $tbl"
        }
      }
    }.toSeq
}

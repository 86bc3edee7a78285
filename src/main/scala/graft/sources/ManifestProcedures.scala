package graft.sources

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure,
  ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL `CALL` face of the maintenance tier — the operations a table
  * needs that are not DML and have no ANSI spelling (every production
  * lakehouse grows a procedure namespace for exactly these; this is
  * Spark 4's own ProcedureCatalog protocol, so the spelling is the
  * engine's):
  *
  * {{{
  * CALL g.system.compact('tbl', 134217728)
  * CALL g.system.optimize('tbl', 134217728, 'event_id')   -- clustered
  * CALL g.system.vacuum('tbl', 1, 0)
  * CALL g.system.restore('tbl', 3)
  * }}}
  *
  * Each returns a one-row result (the new version / reclaimed count) —
  * the procedure's receipt. Arguments bind by position or name with
  * engine-side type coercion; the table name resolves under the
  * catalog's own root, so procedures compose with every other face of
  * the same directory.
  */
private[sources] object ManifestProcedures {

  private def oneRow(schema: StructType, values: Any*): Scan = {
    val row = new GenericInternalRow(values.toArray)
    new LocalScan {
      override def rows(): Array[InternalRow] = Array(row)
      override def readSchema(): StructType = schema
      override def description(): String = "graft-manifest procedure result"
    }
  }

  private val VersionOut =
    StructType(Seq(StructField("version", LongType, nullable = false)))

  /** One maintenance procedure: fixed parameter list, one-row result. */
  private def proc(procName: String, params: Seq[ProcedureParameter],
      out: StructType)(run: (String, InternalRow) => Any)
      (resolveDir: String => String): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String =
        s"graft-manifest maintenance: $procName"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = procName
          override def description(): String =
            s"graft-manifest maintenance: $procName"
          override def parameters(): Array[ProcedureParameter] =
            params.toArray
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow)
              : java.util.Iterator[Scan] = {
            val dir = resolveDir(input.getUTF8String(0).toString)
            Collections.singletonList(
              oneRow(out, run(dir, input))).iterator()
          }
        }
    }

  /** The procedures under `<catalog>.system`, with `resolveDir`
    * mapping a table name to its directory under the catalog root and
    * `catalog` the owning catalog (the view procedures route through
    * its ViewCatalog implementation).
    */
  def load(name: String, resolveDir: String => String,
      catalog: ManifestCatalog): Option[UnboundProcedure] = {
    val table = ProcedureParameter.in("table", StringType).build()
    name match {
      case "compact" => Some(proc("compact", Seq(table,
        ProcedureParameter.in("target_bytes", LongType).build()),
        VersionOut) { (dir, in) =>
        ManifestedTable.compact(SparkSession.active, dir, in.getLong(1))
      }(resolveDir))
      case "optimize" => Some(proc("optimize", Seq(table,
        ProcedureParameter.in("target_bytes", LongType).build(),
        ProcedureParameter.in("cluster_by", StringType).build()),
        VersionOut) { (dir, in) =>
        ManifestedTable.compactClustered(SparkSession.active, dir,
          in.getLong(1),
          org.apache.spark.sql.functions.col(in.getUTF8String(2).toString))
      }(resolveDir))
      case "vacuum" => Some(proc("vacuum", Seq(table,
        ProcedureParameter.in("keep_last", IntegerType).build(),
        ProcedureParameter.in("min_age_ms", LongType).build()),
        StructType(Seq(
          StructField("deleted_files", IntegerType, nullable = false)))) {
        (dir, in) =>
          ManifestedTable.vacuum(SparkSession.active, dir, in.getInt(1),
            in.getLong(2))
      }(resolveDir))
      case "restore" => Some(proc("restore", Seq(table,
        ProcedureParameter.in("version", LongType).build()),
        VersionOut) { (dir, in) =>
        ManifestedTable.restore(SparkSession.active, dir, in.getLong(1))
      }(resolveDir))
      case "cherrypick" => Some(proc("cherrypick", Seq(table,
        ProcedureParameter.in("version", LongType).build()),
        VersionOut) { (dir, in) =>
        // lift ONE retained append commit's delta onto the head —
        // the single-commit companion to promote_branch (works from a
        // live or dropped branch, or a main commit an overwrite erased)
        ManifestedTable.cherrypick(SparkSession.active, dir,
          in.getLong(1))
      }(resolveDir))
      case "history" => Some(new UnboundProcedure {
        // DESCRIBE HISTORY as a procedure: one row per retained
        // version (version, commit time, operation, file + DV counts)
        override def name(): String = "history"
        override def description(): String =
          "graft-manifest maintenance: history"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "history"
            override def description(): String =
              "graft-manifest maintenance: history"
            override def parameters(): Array[ProcedureParameter] =
              Array(table)
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow)
                : java.util.Iterator[Scan] = {
              val dir = resolveDir(input.getUTF8String(0).toString)
              val out = StructType(Seq(
                StructField("version", LongType, nullable = false),
                StructField("commit_ms", LongType, nullable = false),
                StructField("op", StringType, nullable = false),
                StructField("branch", StringType, nullable = false),
                StructField("n_files", LongType, nullable = false),
                StructField("n_dv", LongType, nullable = false)))
              // |retained versions| rows — manifest-sized
              val hist = ManifestedTable
                .history(SparkSession.active, dir)
                .orderBy("version").collect().map { r =>
                  new GenericInternalRow(Array[Any](r.getLong(0),
                    r.getLong(1), UTF8String.fromString(r.getString(2)),
                    UTF8String.fromString(r.getString(3)),
                    r.getLong(4), r.getLong(5))): InternalRow
                }
              Collections.singletonList(new LocalScan {
                override def rows(): Array[InternalRow] = hist
                override def readSchema(): StructType = out
                override def description(): String =
                  "graft-manifest history"
              }: Scan).iterator()
            }
          }
      })
      case "promote_branch" => Some(proc("promote_branch", Seq(table,
        ProcedureParameter.in("branch", StringType).build()),
        VersionOut) { (dir, in) =>
        // the PUBLISH step of write-audit-publish from SQL: one atomic
        // fast-forward commit (a racing main commit aborts loudly)
        ManifestedTable.promoteBranch(SparkSession.active, dir,
          in.getUTF8String(1).toString)
      }(resolveDir))
      case "create_tag" => Some(proc("create_tag", Seq(table,
        ProcedureParameter.in("tag", StringType).build(),
        ProcedureParameter.in("version", LongType).build()),
        VersionOut) { (dir, in) =>
        // version ≤ 0 tags the current main head; tags are immutable
        // and vacuum retains them unconditionally
        val v = in.getLong(2)
        ManifestedTable.createTag(SparkSession.active, dir,
          in.getUTF8String(1).toString, if (v > 0) Some(v) else None)
      }(resolveDir))
      case "drop_tag" => Some(proc("drop_tag", Seq(table,
        ProcedureParameter.in("tag", StringType).build()),
        StructType(Seq(
          StructField("dropped", BooleanType, nullable = false)))) {
        (dir, in) =>
          ManifestedTable.dropTag(SparkSession.active, dir,
            in.getUTF8String(1).toString)
      }(resolveDir))
      case "tags" => Some(new UnboundProcedure {
        override def name(): String = "tags"
        override def description(): String =
          "graft-manifest maintenance: tags"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "tags"
            override def description(): String =
              "graft-manifest maintenance: tags"
            override def parameters(): Array[ProcedureParameter] =
              Array(table)
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow)
                : java.util.Iterator[Scan] = {
              val dir = resolveDir(input.getUTF8String(0).toString)
              val out = StructType(Seq(
                StructField("tag", StringType, nullable = false),
                StructField("version", LongType, nullable = false),
                StructField("created_ms", LongType, nullable = false)))
              // |tags| rows — ref-sized (bound OUTSIDE the anonymous
              // class, the branches-procedure discipline)
              val tagRows = ManifestedTable
                .tags(SparkSession.active, dir).map { case (n, v, ts) =>
                  new GenericInternalRow(Array[Any](
                    UTF8String.fromString(n), v, ts)): InternalRow
                }.toArray
              Collections.singletonList(new LocalScan {
                override def rows(): Array[InternalRow] = tagRows
                override def readSchema(): StructType = out
                override def description(): String =
                  "graft-manifest tags"
              }: Scan).iterator()
            }
          }
      })
      case "create_changelog_view" => Some(proc("create_changelog_view",
        Seq(table,
          ProcedureParameter.in("from_version", LongType).build(),
          ProcedureParameter.in("to_version", LongType).build(),
          ProcedureParameter.in("view_name", StringType).build(),
          ProcedureParameter.in("identifier_cols", StringType).build()),
        StructType(Seq(StructField("view", StringType, nullable = false)))) {
        (dir, in) =>
          // the Iceberg create_changelog_view construction: the
          // per-commit CDF (with _change_type/_commit_version/
          // _commit_timestamp) registers as a temp view — data rows
          // stay distributed, only the view NAME returns here.
          // identifier_cols ('' = none) pairs delete+insert within a
          // commit into update_pre/postimage.
          val view = in.getUTF8String(3).toString
          val ids = in.getUTF8String(4).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          ManifestedTable.tableChanges(SparkSession.active, dir,
            in.getLong(1), in.getLong(2), ids)
            .createOrReplaceTempView(view)
          UTF8String.fromString(view)
      }(resolveDir))
      case "set_partition_spec" => Some(proc("set_partition_spec",
        Seq(table, ProcedureParameter.in("spec", StringType).build()),
        VersionOut) { (dir, in) =>
        // partition EVOLUTION as one metadata commit: 'days(d)',
        // 'bucket(8,k)', comma-combined, or 'none' — old files keep
        // (and keep pruning under) their write-time spec
        ManifestedTable.setPartitionSpec(SparkSession.active, dir,
          in.getUTF8String(1).toString)
      }(resolveDir))
      case "drop_branch" => Some(proc("drop_branch", Seq(table,
        ProcedureParameter.in("branch", StringType).build()),
        VersionOut) { (dir, in) =>
        ManifestedTable.dropBranch(SparkSession.active, dir,
          in.getUTF8String(1).toString)
      }(resolveDir))
      case "branches" => Some(new UnboundProcedure {
        // live branch heads: (branch, head_version)
        override def name(): String = "branches"
        override def description(): String =
          "graft-manifest maintenance: branches"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "branches"
            override def description(): String =
              "graft-manifest maintenance: branches"
            override def parameters(): Array[ProcedureParameter] =
              Array(table)
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow)
                : java.util.Iterator[Scan] = {
              val dir = resolveDir(input.getUTF8String(0).toString)
              val out = StructType(Seq(
                StructField("branch", StringType, nullable = false),
                StructField("head_version", LongType, nullable = false)))
              // |branches| rows — ref-sized. NB the result is bound
              // OUTSIDE the anonymous class: `override def rows() =
              // rows` would resolve to the method itself (an infinite
              // self tail-call), not this val
              val brRows = ManifestedTable
                .branches(SparkSession.active, dir).map { case (b, v) =>
                  new GenericInternalRow(Array[Any](
                    UTF8String.fromString(b), v)): InternalRow
                }.toArray
              Collections.singletonList(new LocalScan {
                override def rows(): Array[InternalRow] = brRows
                override def readSchema(): StructType = out
                override def description(): String =
                  "graft-manifest branches"
              }: Scan).iterator()
            }
          }
      })
      case "create_view" => Some(proc("create_view", Seq(
        ProcedureParameter.in("view", StringType).build(),
        ProcedureParameter.in("sql", StringType).build(),
        ProcedureParameter.in("replace", BooleanType).build()),
        StructType(Seq(StructField("view", StringType, nullable = false)))) {
        (_, in) =>
          // the procedure face of catalog views — shares
          // createViewFromText with the injected CREATE VIEW parser
          // command: one implementation, identical guards (query-only
          // text, no temp-view references, analyzed schema)
          val vName = in.getUTF8String(0).toString
          catalog.createViewFromText(SparkSession.active,
            org.apache.spark.sql.connector.catalog.Identifier.of(
              Array.empty, vName),
            in.getUTF8String(1).toString, in.getBoolean(2))
          UTF8String.fromString(vName)
      }(resolveDir))
      case "drop_view" => Some(proc("drop_view", Seq(
        ProcedureParameter.in("view", StringType).build()),
        StructType(Seq(
          StructField("dropped", BooleanType, nullable = false)))) {
        (_, in) =>
          catalog.dropView(
            org.apache.spark.sql.connector.catalog.Identifier.of(
              Array.empty, in.getUTF8String(0).toString))
      }(resolveDir))
      case "views" => Some(new UnboundProcedure {
        // catalog views: (view, schema DDL) — SHOW VIEWS has no V2
        // wiring in the engine, so the listing is a procedure
        override def name(): String = "views"
        override def description(): String =
          "graft-manifest maintenance: views"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "views"
            override def description(): String =
              "graft-manifest maintenance: views"
            override def parameters(): Array[ProcedureParameter] =
              Array.empty
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow)
                : java.util.Iterator[Scan] = {
              val out = StructType(Seq(
                StructField("view", StringType, nullable = false),
                StructField("schema", StringType, nullable = false)))
              // |views| rows — directory-listing-sized
              val vRows = catalog.listViews().toSeq.sortBy(_.name())
                .map { id =>
                  val v = catalog.loadView(id)
                  new GenericInternalRow(Array[Any](
                    UTF8String.fromString(id.name()),
                    UTF8String.fromString(v.schema().toDDL)))
                    : InternalRow
                }.toArray
              Collections.singletonList(new LocalScan {
                override def rows(): Array[InternalRow] = vRows
                override def readSchema(): StructType = out
                override def description(): String =
                  "graft-manifest views"
              }: Scan).iterator()
            }
          }
      })
      case _ => None
    }
  }

  val Names: Seq[String] =
    Seq("compact", "optimize", "vacuum", "restore", "cherrypick",
      "history", "promote_branch", "drop_branch", "branches",
      "set_partition_spec", "create_changelog_view", "create_tag",
      "drop_tag", "tags", "create_view", "drop_view", "views")
}

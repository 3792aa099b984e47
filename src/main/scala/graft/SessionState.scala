package graft

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.DataType
import graft.sql.GraftSql.{IndexMeta, JobInfo, OfflineInfo, TableStatusMeta,
  UserFn}

/** A deployment (DEPLOY name SELECT ...): the body SQL, validated at
  * DEPLOY time per ONLINE_REQUEST_REQUIREMENTS.md, and the OPTIONS
  * serving consults (StreamDeploy routes eligible windows through the
  * pre-agg partials when long_windows names them).
  *
  * `db` is the session's current db (USE target) at DEPLOY time. The
  * reference scopes deployments per db (ShowProcedure takes (db,
  * name)); here a deployment made under an explicit USE is visible only
  * from that db, while default-namespace deployments (None) stay
  * visible everywhere (CALL's behavior, and what the restful corpus
  * relies on — it deploys with no USE). */
private[graft] final case class Deployment(body: String,
    db: Option[String], options: Map[String, String])

/** A stored procedure (CREATE PROCEDURE name(params) BEGIN sql END) —
  * the reference's SP surface over its request engine; procedures are
  * deploy-shaped. `signature` is (param, type, isConst) in declared
  * order, const params being the reference's COMMON columns; `text` is
  * the statement as written (the reference's ShowProcedure echoes it
  * verbatim). */
private[graft] final case class Procedure(body: String,
    signature: Option[Seq[(String, DataType, Boolean)]], text: String)

/** Everything the engine keeps for one SparkSession. Session state is
  * tenant state: [[SessionState.of]] keys it weakly, so it is dropped
  * with its session, where a process-global registry would leak it
  * across sessions and tests.
  *
  * The fields here survive `GraftSql.resetCatalogState`; everything it
  * drops is in [[catalog]], which the reset replaces whole. */
private[graft] final class SessionState {
  /** User registry (ddl/{CREATE,ALTER,DROP}_USER_STATEMENT.md): user →
    * password, seeded with `root`. Authentication itself is the cluster
    * manager's concern in this architecture; the registry models the
    * statement surface and its validation rules. */
  val users = TrieMap[String, String]("root" -> "")
  /** CREATE FUNCTION registry by lowercase name. */
  val userFns = TrieMap[String, UserFn]()
  /** The virtual tablet endpoints CREATE TABLE OPTIONS validate
    * against. */
  @volatile var tablets: Seq[String] = Seq("tablet0", "tablet1", "tablet2")
  /** The online store's tables by lowercase name ([[GraftCatalog]]);
    * guarded by its own monitor. */
  val tables = mutable.Map.empty[String, GraftCatalog.Table]
  /** Whether the dialect's functions are registered on the session;
    * guarded by GraftSql's monitor. */
  var functionsRegistered = false
  @volatile var catalog = new CatalogState(0L)
}

private[graft] object SessionState {
  private val states = new java.util.WeakHashMap[SparkSession, SessionState]()

  def of(spark: SparkSession): SessionState = states.synchronized {
    states.computeIfAbsent(spark, _ => new SessionState)
  }
}

/** The session state `GraftSql.resetCatalogState` drops, as one value
  * the reset replaces. `offlineEpoch` names the offline hard-store
  * root; a reset carries it forward as `offlineEpoch + 1`, so a fresh
  * logical catalog never collides with a previous incarnation's
  * files. */
private[graft] final class CatalogState(val offlineEpoch: Long) {
  /** Session system variables set by SET (ddl/SET_STATEMENT.md). */
  val vars = TrieMap[String, String]()
  /** Databases from CREATE DATABASE, and the USE target (None = the
    * implicit default namespace). */
  val dbs = mutable.Set.empty[String]
  @volatile var curDb: Option[String] = None
  val deployments = TrieMap[String, Deployment]()
  val procedures = TrieMap[String, Procedure]()
  /** Offline jobs by id; `jobIds` hands out the ids. */
  val jobIds = new AtomicLong(0)
  val jobs = TrieMap[Long, JobInfo]()
  /** table → index specs (key columns, ts column); DELETE validates its
    * condition against these when present (DELETE_STATEMENT.md: the
    * condition must be key equality over one index). */
  val indexes = TrieMap[String, Seq[(Seq[String], Option[String])]]()
  /** table → full index metadata, see [[graft.sql.GraftSql.IndexMeta]]. */
  val idxMeta = TrieMap[String, Seq[IndexMeta]]()
  /** NOT NULL columns by table (CREATE TABLE decl flags) — the view
    * schema stays nullable (enforcement is a write-path concern); the
    * metadata surfaces (REST table info, strict inserts) read this. */
  val notNullCols = TrieMap[String, Set[String]]()
  /** Offline table info by offline key. */
  val offline = TrieMap[String, OfflineInfo]()
  /** Load edition, "cluster" or "standalone" (`GraftSql.setLoadEdition`). */
  @volatile var edition = "cluster"
  /** Stored row/size stats for SHOW TABLE STATUS: table →
    * (canonical-plan hash, rows, bytes); invalidated by plan identity,
    * not by hooks — every mutation path re-registers the temp view with
    * a new plan, so a changed hash IS the mutation signal. */
  val rowStats = TrieMap[String, (Int, Long, Long)]()
  /** SHOW TABLE STATUS metadata by table; `tableIds` hands out the
    * ids. */
  val tableIds = new AtomicLong(0)
  val tableStatus = TrieMap[String, TableStatusMeta]()
  /** Tables created through CREATE TABLE: the reset drops only these,
    * leaving other temp views alone. */
  val created = mutable.Set.empty[String]
}

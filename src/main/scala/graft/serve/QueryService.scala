package graft.serve

import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftSparkInternals, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Command, CreateFunction, CreateTableAsSelect,
  CreateView, DeleteFromTable, InsertIntoDir, InsertIntoStatement, LogicalPlan, MergeIntoTable,
  ObjectConsumer, ParsedStatement, ReplaceTableAsSelect, SingleStatement, UpdateTable}
import org.apache.spark.sql.execution.command.{AddArchivesCommand, AddFilesCommand, AddJarsCommand,
  CreateFunctionCommand, CreateViewCommand, ExplainCommand}
import org.apache.spark.sql.internal.SQLConf

import graft.sql.SqlScan

/** Async SQL execution service — the engine-side equivalent of walden's
  * Superset SQL Lab async path (browser -> Celery queue -> worker ->
  * Redis result cache; `tf/superset/superset.tf:52-70`,
  * `tf/superset/superset_config.py:36-75`). One process, same
  * semantics: bounded worker pool, query status lifecycle, TTL'd
  * result cache, per-service feature flags (allow_ctas / allow_cvas /
  * allow_dml parity).
  *
  * Both the gate and the cache read Spark's plan, never the statement's
  * text. Each statement is parsed once; the flags gate the classes of
  * the parsed plan (an INSERT, a CTAS, a view), and that same plan runs
  * in the user's session. The cache key is the canonicalized optimized
  * plan, so whitespace, comment and alias variants hit, while a
  * different literal or a different table misses.
  *
  * User impersonation (walden sets `impersonate_user: true` on the
  * Superset DB — `tf/superset/superset.tf:60`): every submission
  * carries a user identity; each user executes in an isolated child
  * SparkSession (own temp-view namespace + `spark.graft.user` conf),
  * `onUserSession` runs once per user to install per-user views /
  * row filters, and the result cache is keyed per user so one user's
  * results are never served to another.
  *
  * User sessions share generated code. Spark gives each
  * artifact-isolated session its own executor classloader, and that
  * classloader is part of the code cache's key, so isolated user
  * sessions would each compile every statement shape again. User
  * sessions are therefore created with artifact isolation off and run
  * on the one shared classloader (the embedder's base session and
  * Spark Connect sessions stay isolated). An artifact added there would
  * reach every user, so impersonated users may not run `ADD JAR`,
  * `ADD FILE`, `ADD ARCHIVE` or `CREATE FUNCTION ... USING`.
  *
  * Results are collected only up to `maxResultRows` (BI-shaped
  * consumption); full-size outputs should INSERT/CTAS instead — same
  * discipline Superset imposes on SQL Lab.
  */
final class QueryService(
    spark: SparkSession,
    workers: Int = 4,
    cacheTtlSeconds: Long = 300, // walden CACHE_DEFAULT_TIMEOUT=300s
    maxResultRows: Int = 10000,
    allowCtas: Boolean = true,
    allowCvas: Boolean = true,
    allowDml: Boolean = true,
    onUserSession: (SparkSession, String) => Unit = (_, _) => (),
    maxUserSessions: Int = 256,
    maxTrackedQueries: Int = 10000,
    maxQuerySeconds: Long = 600, // walden SQLLAB_ASYNC_TIME_LIMIT_SEC
    policies: Map[String, QueryService.TablePolicy] = Map.empty) extends AutoCloseable {
  require(maxUserSessions > 0, s"maxUserSessions must be positive, got $maxUserSessions")
  require(maxTrackedQueries > 0, s"maxTrackedQueries must be positive, got $maxTrackedQueries")

  // Policy routing: a DOTTED policy key
  // names a catalog table (`g.db.t`) — a temp view cannot shadow that
  // name, so those policies enforce through the analyzer rule
  // (PolicyEnforcementRule, registered JVM-wide, scoped to this
  // service's namespace). Undotted keys keep the per-user VIEW
  // rewrite ([[applyPolicies]]). Both paths push the predicate into the scan.
  private val (catalogPolicies, viewPolicies) =
    policies.partition { case (name, _) => name.contains(".") }
  private val policyNamespace = s"graft-service-${QueryService.nextServiceId.incrementAndGet()}"
  if (catalogPolicies.nonEmpty)
    PolicyEnforcement.install(policyNamespace, catalogPolicies)

  sealed trait Status
  case object Queued extends Status
  case object Running extends Status
  final case class Finished(rows: Seq[Row], columns: Seq[String],
      elapsedMs: Long, fromCache: Boolean) extends Status
  final case class Failed(error: String) extends Status
  /** Terminal: stopped by [[cancel]] or the execution-limit reaper. */
  final case class Cancelled(reason: String) extends Status

  private val pool = Executors.newFixedThreadPool(workers)
  private val nextId = new AtomicLong(0)
  private val statuses = new ConcurrentHashMap[Long, Status]()
  import QueryService.CacheKey
  private val cache = new ConcurrentHashMap[CacheKey, (Long, Finished)]() // key -> (expiryMs, result)

  /** Terminal-status retention: the
    * reference stores async results in a TTL'd backend — an unbounded
    * status map would leak one Finished (up to maxResultRows rows) per
    * query FOREVER at the 100-task/s service rate. Terminal statuses
    * enqueue FIFO and the oldest evict past `maxTrackedQueries`;
    * `status()` on an evicted id reads None and `await()` reports it
    * by name — the results-expire contract SQL Lab users already
    * have. Queued/Running entries are never evicted (the queue holds
    * only terminal ids). */
  private val terminalOrder = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  // counted separately: statuses.size() includes Queued/Running, and
  // sizing eviction from it would let a backlog >= cap evict every
  // result the instant it lands; ConcurrentLinkedQueue
  // .size() is O(n), hence the explicit counter
  private val terminalCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val lastCacheSweepMs = new AtomicLong(0)
  private def putTerminal(id: Long, st: Status): Unit = {
    // count an id once even if two paths go terminal (a queued cancel
    // racing the worker's own completion) — double-enqueueing would
    // drift the counter and shrink retention
    val prev = statuses.put(id, st)
    val firstTerminal = prev == null || prev == Queued || prev == Running
    if (!firstTerminal) return
    terminalOrder.add(id)
    var over = terminalCount.incrementAndGet() - maxTrackedQueries
    while (over > 0) {
      val old = terminalOrder.poll()
      if (old == null) over = 0
      else { statuses.remove(old); terminalCount.decrementAndGet(); over -= 1 }
    }
    // the result cache is TTL-bounded but only swept opportunistically
    // (cacheSize): sweep on write once it outgrows the tracking cap,
    // at most once per second — an unexpired over-cap cache would
    // otherwise pay a full O(cache) scan per completion
    if (cache.size() > maxTrackedQueries) {
      val now = System.currentTimeMillis()
      val prev = lastCacheSweepMs.get()
      if (now - prev > 1000 && lastCacheSweepMs.compareAndSet(prev, now)) cacheSize
    }
  }

  /** One isolated child session per user: shared catalog + cached data,
    * private temp-view namespace and conf (the execution-identity
    * boundary Spark offers in-process). Created lazily; onUserSession
    * installs the user's views once per residency. LRU-bounded
    * (`maxUserSessions`): user is an arbitrary caller-supplied string,
    * so an unbounded map would let identity churn grow driver memory
    * without limit. Eviction drops the user's session state (temp
    * views a user created via CVAS are rebuilt by onUserSession on the
    * next touch, not preserved — size the cap for the real user
    * population if that matters) AND purges the user's result-cache
    * entries, so a stale cached read can never outlive the views it
    * was computed from. Cleared on close(). */
  private val userSessions =
    new java.util.LinkedHashMap[String, SparkSession](16, 0.75f, true)
  private def dropUserCache(user: String): Unit =
    cache.keySet.asScala.filter(_.user == user).foreach(cache.remove)
  // per-user creation locks: session build runs the embedder's
  // onUserSession callback (arbitrarily slow) — holding the single map
  // monitor there would serialize every not-yet-resident user's first
  // query behind it. Each entry is removed once its session is
  // resident, so identity churn cannot grow this map without bound.
  private val userLocks = new ConcurrentHashMap[String, Object]()
  private def sessionFor(user: String): SparkSession =
    // the service identity runs on the embedder's own session (its temp
    // views are the service's working set); impersonated users each get
    // an isolated child session
    if (user == "anonymous") spark
    else {
      val hit = userSessions.synchronized(userSessions.get(user))
      if (hit != null) hit
      else {
        val result = userLocks.computeIfAbsent(user, _ => new Object).synchronized {
          val again = userSessions.synchronized(userSessions.get(user))
          if (again != null) again
          else {
            val s = spark.newSession()
            // before anything runs: the session's artifact state is
            // fixed on first use (see the class doc)
            s.conf.set(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, "false")
            s.conf.set(PolicyEnforcement.UserConf, user)
            // point the child session at THIS service's catalog-table
            // policies BEFORE onUserSession: any SQL the embedder runs
            // there is already policied
            if (catalogPolicies.nonEmpty)
              s.conf.set(PolicyEnforcement.NamespaceConf, policyNamespace)
            onUserSession(s, user)
            applyPolicies(s, user)
            // fail CLOSED, not silent-open: a
            // dotted policy that never matches a DSv2 relation (catalog
            // typo, Hive/session-catalog table) would otherwise leave
            // the table readable RAW by every impersonated user
            catalogPolicies.keys.foreach { t =>
              val analyzed =
                try s.table(t).queryExecution.analyzed
                catch {
                  case e: Exception => throw new IllegalStateException(
                    s"catalog policy for '$t' cannot be enforced in user '$user' " +
                      s"session: ${e.getMessage}", e)
                }
              val enforced = analyzed.exists {
                case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
                  r.options.containsKey(PolicyEnforcement.AppliedOption)
                case _ => false
              }
              if (!enforced) throw new IllegalStateException(
                s"catalog policy for '$t' did not attach: dotted policy names must " +
                  "resolve to a DSv2 catalog relation whose catalog.namespace.name " +
                  "equals the policy key (session-catalog/Hive tables take the " +
                  "undotted per-user view-policy path)")
            }
            // manual LRU eviction: find the eldest under the monitor,
            // purge its cache entries OUTSIDE it — a full cache scan
            // under the map monitor would serialize every session
            // lookup behind it
            val evicted = userSessions.synchronized {
              userSessions.put(user, s)
              if (userSessions.size > maxUserSessions) {
                val it = userSessions.keySet.iterator
                val eldest = it.next(); it.remove(); Some(eldest)
              } else None
            }
            evicted.foreach(dropUserCache)
            s
          }
        }
        userLocks.remove(user)
        result
      }
    }

  /** Row-level security + column masking (Superset's RLS/masking
    * surface, applied engine-side): after `onUserSession` registers a
    * user's base views, each policied view is REPLACED in that child
    * session by a filtered/masked projection of itself. The rewrite is
    * per-session, so the user cannot reach the unfiltered relation by
    * name — and because it happens at VIEW level, Catalyst pushes the
    * predicate into the scan like any other filter (no per-row UDF
    * tax). The service identity ("anonymous", the embedder's own
    * session) is trusted and unpolicied. Eviction rebuilds rerun this,
    * so a policy survives session churn; result-cache keys are already
    * per-user, so a filtered result can never serve another user. */
  private def applyPolicies(s: SparkSession, user: String): Unit =
    viewPolicies.foreach { case (table, pol) =>
      val base =
        try s.table(table)
        catch {
          case e: Exception => throw new IllegalStateException(
            s"policy configured for '$table' but onUserSession did not " +
              s"register it for user '$user'", e)
        }
      val unknown = pol.columnMasks.keySet -- base.columns.toSet
      require(unknown.isEmpty,
        s"policy for '$table' masks non-existent column(s): ${unknown.mkString(", ")}")
      val masked = base.columns.map { c =>
        pol.columnMasks.get(c) match {
          case Some(m) => s"($m) AS `$c`"
          case None => s"`$c`"
        }
      }
      val filtered = pol.rowFilter(user) match {
        case Some(pred) => base.filter(org.apache.spark.sql.functions.expr(pred))
        case None => base
      }
      filtered.selectExpr(masked.toIndexedSeq: _*).createOrReplaceTempView(table)
    }

  /** True iff `sess` is still the resident session for `user` — guards
    * cache writes: a query that ran on a since-evicted session must not
    * publish its result after the eviction already purged that user's
    * cache (the views it was computed from are gone). */
  private def stillResident(user: String, sess: SparkSession): Boolean =
    user == "anonymous" || (userSessions.synchronized(userSessions.get(user)) eq sess)

  /** The statement classes the service flags gate, read from Spark's
    * parsed plan (a SQL script's statements included), so a spelling the
    * parser accepts cannot slip past the gate. */
  private def gate(plan: LogicalPlan, user: String): Unit = {
    val nodes = statementNodes(plan)
    def holds(pf: PartialFunction[LogicalPlan, Unit]): Boolean = nodes.exists(pf.isDefinedAt)
    if (!allowDml && holds { case _: InsertIntoStatement | _: InsertIntoDir | _: UpdateTable |
        _: DeleteFromTable | _: MergeIntoTable => })
      throw new IllegalStateException("DML disabled (allow_dml=false)")
    if (!allowCtas && holds { case _: CreateTableAsSelect | _: ReplaceTableAsSelect => })
      throw new IllegalStateException("CTAS disabled (allow_ctas=false)")
    if (!allowCvas && holds { case _: CreateView | _: CreateViewCommand => })
      throw new IllegalStateException("CVAS disabled (allow_cvas=false)")
    val artifacts = nodes.collect {
      case a: AddJarsCommand => a.paths
      case _: AddFilesCommand | _: AddArchivesCommand => Nil
      case f: CreateFunction if f.resources.nonEmpty => Nil
      case f: CreateFunctionCommand if f.resources.nonEmpty => Nil
    }
    if (artifacts.nonEmpty && user != "anonymous") throw new IllegalStateException(
      "ADD JAR/FILE/ARCHIVE and CREATE FUNCTION ... USING are refused for impersonated " +
        "users: user sessions share one classloader, so the artifact would reach every user")
    missingJars(artifacts.flatten).headOption.foreach { p =>
      val e = new java.io.FileNotFoundException(s"Jar $p not found")
      throw new IllegalArgumentException(s"Failed to add $p to Spark environment: $e", e)
    }
  }

  /** Every node of a parsed statement; a SQL script's statements hold
    * their plans outside the node tree. */
  private def statementNodes(plan: LogicalPlan): Seq[LogicalPlan] =
    plan.collect {
      case s: SingleStatement => s +: statementNodes(s.parsedPlan)
      case p => Seq(p)
    }.flatten

  /** Only a read may be served from the cache: a query, or a SHOW,
    * DESCRIBE or EXPLAIN command. Anything else (DML, DDL, SET, a
    * script) runs every time, since serving it would skip its side
    * effects. */
  private def cacheable(plan: LogicalPlan): Boolean = plan match {
    case _: ExplainCommand => true
    case p if p.nodeName.startsWith("Show") || p.nodeName.startsWith("Describe") => true
    case p => !p.exists(n => n.isInstanceOf[Command] || n.isInstanceOf[ParsedStatement])
  }

  /** Two statements share a cache entry only when Spark's `sameResult`
    * would match their plans: the key holds the canonicalized plan, whose
    * relations compare by location and table identity, as Spark's
    * CacheManager matches cached data. Canonicalization strips alias
    * names and normalizes attribute ids, so whitespace, comment and alias
    * variants of a query share a key; different literals do not. Views
    * are inlined, so a per-user view resolving differently yields a
    * different plan. The OPTIMIZED plan: CTERelationDef ids are fresh per
    * query and survive canonicalization, but the optimizer inlines CTEs.
    *
    * A typed operator (MATCH_RECOGNIZE's matcher) holds a function
    * instance, which compares by identity, so such a plan never equals a
    * repeat's. Those statements key on their text instead: comments
    * dropped, code lowercased with its whitespace collapsed, literals and
    * quoted identifiers as written ('Bob' and 'bob' differ). */
  private def cacheKey(user: String, df: DataFrame, sql: String): CacheKey = {
    val canon = df.queryExecution.optimizedPlan.canonicalized
    CacheKey(user, if (canon.exists(_.isInstanceOf[ObjectConsumer])) textKey(sql) else canon)
  }

  private def textKey(sql: String): String = {
    val b = new StringBuilder(sql.length)
    var space = false // whitespace or a comment since the last token
    def put(s: String): Unit = {
      if (space && b.nonEmpty) b.append(' ')
      space = false
      b.append(s)
    }
    SqlScan.spans(sql).foreach {
      case SqlScan.Span(SqlScan.Code, from, to) =>
        for (i <- from until to) {
          val c = sql.charAt(i)
          if (c.isWhitespace) space = true else put(c.toLower.toString)
        }
      case SqlScan.Span(SqlScan.Comment, _, _) => space = true
      case SqlScan.Span(_, from, to) => put(sql.substring(from, to))
    }
    b.toString
  }

  /** The local paths among an `ADD JAR` statement's that do not exist.
    * Spark only logs such a jar (`SparkContext.addJar` catches its
    * FileNotFoundException), so the statement would otherwise finish as
    * if the jar had been added. Remote and ivy paths are not checked. */
  private def missingJars(paths: Seq[String]): Seq[String] =
    paths.filter { p =>
      val local = scala.util.Try(new java.net.URI(p)).toOption match {
        case Some(u) if u.getScheme == null => Some(p)
        case Some(u) if u.getScheme == "file" => Some(u.getPath)
        case Some(_) => None
        case None => Some(p)
      }
      local.exists(l => !java.nio.file.Files.exists(java.nio.file.Paths.get(l)))
    }

  /** Submit; returns a query id immediately (Celery-task parity).
    * `user` is the impersonated execution identity. */
  def submit(sql: String, user: String = "anonymous"): Long = {
    val id = nextId.incrementAndGet()
    statuses.put(id, Queued)
    pool.submit(new Runnable {
      override def run(): Unit = execute(id, sql, user)
    })
    id
  }

  def status(id: Long): Option[Status] = Option(statuses.get(id))

  // ---- cancellation (SQL Lab STOP + the async time limit) ----------
  // every query's Spark jobs run under the thread-scoped group
  // "graft-q-<id>", so cancel() can kill exactly that query's jobs on
  // the SHARED context without touching neighbors.
  // Spark 4 cancellation rides CONTEXT-level job tags: addJobTag on
  // the worker thread attaches the tag to every job it submits, and
  // cancelJobsWithTag kills matching ACTIVE jobs from ANY thread.
  // (SparkSession.addTag/interruptTag is thread-scoped in classic
  // mode — an interrupt from another thread resolves no operations,
  // measured on this build; the classic setJobGroup likewise failed
  // to reach SQL executions.) cancelJobsWithTag only sees active
  // jobs, so a cancel landing during analysis/codegen is re-fired by
  // the reaper every second until the worker goes terminal. The
  // instance nonce keeps tags globally unique across QueryService
  // instances sharing one context.
  private val instanceNonce = java.lang.Long.toHexString(
    java.util.concurrent.ThreadLocalRandom.current().nextLong())
  private def queryTag(id: Long) = s"graft-$instanceNonce-q-$id"
  private val cancelRequested = ConcurrentHashMap.newKeySet[java.lang.Long]()
  private val cancelReasons = new ConcurrentHashMap[Long, String]()
  private val runningSince = new ConcurrentHashMap[Long, (Long, SparkSession)]()

  /** Stop a queued or running query (walden SQL Lab STOP parity).
    * Queued: terminal immediately, the worker later no-ops. Running:
    * the query's job group is cancelled (tasks interrupt) and the
    * worker reports Cancelled. Returns false for terminal/unknown ids. */
  def cancel(id: Long, reason: String = "cancelled by user"): Boolean =
    statuses.get(id) match {
      case Queued =>
        cancelReasons.put(id, reason)
        cancelRequested.add(id)
        putTerminal(id, Cancelled(reason))
        true
      case Running =>
        cancelReasons.put(id, reason)
        cancelRequested.add(id)
        val r = runningSince.get(id)
        if (r != null) r._2.sparkContext.cancelJobsWithTag(queryTag(id))
        true
      case _ => false
    }

  // execution-limit reaper (walden SQLLAB_ASYNC_TIME_LIMIT_SEC=600):
  // the limit is enforced SERVER-side, not just by await()'s client
  // timeout — a runaway query is killed even if nobody is polling it.
  private val reaper: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-query-reaper"); t.setDaemon(true); t
    })
  // always scheduled: the cancel re-fire must not die with a disabled
  // execution limit (maxQuerySeconds <= 0 turns off only the deadline)
  reaper.scheduleAtFixedRate(new Runnable {
    override def run(): Unit = {
      val deadline =
        if (maxQuerySeconds > 0) System.currentTimeMillis() - maxQuerySeconds * 1000
        else Long.MinValue
      runningSince.forEach { (id, se) =>
        if (se._1 < deadline)
          cancel(id, s"exceeded the ${maxQuerySeconds}s execution limit")
        else if (cancelRequested.contains(id))
          se._2.sparkContext.cancelJobsWithTag(queryTag(id)) // re-fire until terminal
      }
    }
  }, 1, 1, TimeUnit.SECONDS)

  /** Block until the query reaches a terminal state. An id evicted by
    * the retention cap (or never issued) fails BY NAME instead of
    * burning the whole timeout polling a key that can never appear. */
  def await(id: Long, timeoutMs: Long = 600000): Status = { // walden report time limit 600s
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      statuses.get(id) match {
        case f: Finished => return f
        case f: Failed => return f
        case c: Cancelled => return c
        case null => return Failed(
          s"query $id is unknown or its result was evicted (results are " +
            s"retained for the newest $maxTrackedQueries queries)")
        case _ => Thread.sleep(10)
      }
    }
    Failed(s"timeout after ${timeoutMs}ms")
  }

  /** Synchronous convenience (SQL Lab sync path). */
  def sql(text: String, user: String = "anonymous"): Status = await(submit(text, user))

  private def execute(id: Long, sql: String, user: String): Unit = {
    // cancelled while queued: cancel() already went terminal; no-op
    if (cancelRequested.remove(id)) { cancelReasons.remove(id); return }
    try {
      // conditional transition: a queued-cancel that won the race
      // already went terminal — never overwrite Cancelled with Running
      if (!statuses.replace(id, Queued, Running)) {
        cancelRequested.remove(id); cancelReasons.remove(id); return
      }
      val t0 = System.nanoTime()
      val sess = sessionFor(user)
      runningSince.put(id, (System.currentTimeMillis(), sess))
      // thread-scoped: every job this worker thread submits for THIS
      // query carries the tag, so cancelJobsWithTag kills exactly this
      // query's jobs on the shared context
      sess.sparkContext.addJobTag(queryTag(id))
      // closed the register-then-cancel race: a cancel() that saw
      // Running but missed runningSince finds it on the recheck
      if (cancelRequested.contains(id)) throw new InterruptedException("cancelled")
      // parsed once: the plan the gate reads is the plan that runs (a
      // command executes as its Dataset is made, so the gate goes first)
      val parsed = sess.sessionState.sqlParser.parsePlan(sql)
      gate(parsed, user)
      // the limited Dataset is the one that runs: its optimized plan is
      // both the cache key's input and what collect() executes, so the
      // statement is optimized once. The key trades optimizer
      // milliseconds for alias/CTE/constant-fold-invariant hits; the
      // cache exists for queries whose execution dwarfs planning.
      val df: DataFrame = GraftSparkInternals.ofRows(sess, parsed).limit(maxResultRows)
      val cached = cacheable(parsed)
      val key = if (cached) cacheKey(user, df, sql) else null
      if (cached) {
        val hit = cache.get(key)
        if (hit != null && hit._1 > System.currentTimeMillis()) {
          // canonical-plan equality guarantees value-identical rows but
          // NOT output names (canonicalization strips aliases) — serve
          // the cached rows under THIS query's own column labels
          putTerminal(id, hit._2.copy(fromCache = true, columns = df.columns.toSeq))
          return
        }
        // stampede coalescing: at the 100-task/s service
        // rate a cold/expired popular key draws a herd of identical
        // misses; only the FIRST becomes the leader, the rest await
        // its in-flight result. Deadlock-free by construction: the
        // inflight entry is created by an already-RUNNING leader (put
        // happens here, not at submit) and the FIFO pool dequeued the
        // leader before any follower, so a follower never awaits a
        // task that cannot progress. Keys are user-prefixed, so
        // coalescing never crosses the impersonation boundary.
        val mine = new java.util.concurrent.CompletableFuture[Finished]()
        val leader = inflight.putIfAbsent(key, mine)
        if (leader != null) {
          // a follower runs no Spark jobs, so a cancel() on it cannot
          // be delivered through job tags — poll the leader in short
          // slices and honor the request directly
          val sliceMs = 200L
          val limitMs = if (maxQuerySeconds > 0) maxQuerySeconds * 1000 else Long.MaxValue
          val start = System.currentTimeMillis()
          var fin: Finished = null
          while (fin == null) {
            if (cancelRequested.contains(id))
              throw new InterruptedException("cancelled while coalesced")
            if (System.currentTimeMillis() - start > limitMs)
              throw new java.util.concurrent.TimeoutException(
                s"coalesced wait exceeded the ${maxQuerySeconds}s execution limit")
            try fin = leader.get(sliceMs, java.util.concurrent.TimeUnit.MILLISECONDS)
            catch { case _: java.util.concurrent.TimeoutException => }
          }
          putTerminal(id, fin.copy(fromCache = true, columns = df.columns.toSeq))
          return
        }
        try {
          val fin = runAndCache(df, key, user, sess, t0)
          mine.complete(fin)
          putTerminal(id, fin)
        } catch {
          case e: Throwable => mine.completeExceptionally(e); throw e
        } finally inflight.remove(key)
        return
      }
      executions.incrementAndGet()
      val rows = df.collect().toSeq
      // a side-effecting statement (DDL/DML/CTAS/CVAS — everything
      // non-cacheable) invalidates this user's cached reads: a
      // replaced temp view or mutated table must not keep serving
      // pre-statement rows for the rest of the TTL (the text key of a
      // typed plan cannot see a view redefinition, and even a plan key
      // cannot see DML'd table contents)
      dropUserCache(user)
      putTerminal(id, Finished(rows, df.columns.toSeq,
        (System.nanoTime() - t0) / 1000000L, fromCache = false))
    } catch {
      case e: Throwable =>
        // a cancel-requested query ends Cancelled no matter how the
        // kill surfaced (SparkException from the job-group cancel, an
        // interrupt, or the recheck throw)
        if (cancelRequested.contains(id))
          putTerminal(id, Cancelled(
            cancelReasons.getOrDefault(id, "cancelled")))
        else putTerminal(id, Failed(String.valueOf(e.getMessage)))
    } finally {
      cancelRequested.remove(id)
      cancelReasons.remove(id)
      val r = runningSince.remove(id)
      if (r != null) try r._2.sparkContext.removeJobTag(queryTag(id)) catch { case _: Exception => }
    }
  }

  /** Execute a cacheable read and publish it to the result cache (only
    * if the session we ran on is still the user's resident one —
    * results computed on an evicted session must not outlive the
    * eviction's cache purge). */
  private def runAndCache(df: DataFrame, key: CacheKey, user: String,
      sess: SparkSession, t0: Long): Finished = {
    executions.incrementAndGet()
    val rows = df.collect().toSeq
    val fin = Finished(rows, df.columns.toSeq,
      (System.nanoTime() - t0) / 1000000L, fromCache = false)
    if (stillResident(user, sess))
      cache.put(key, (System.currentTimeMillis() + cacheTtlSeconds * 1000, fin))
    fin
  }

  /** Leader futures for in-flight cacheable misses, keyed like the
    * cache. Entries live only for the leader's execution. */
  private val inflight =
    new ConcurrentHashMap[CacheKey, java.util.concurrent.CompletableFuture[Finished]]()

  /** Actual plan executions (not cache/coalesced serves) — the
    * stampede spec's observable. */
  private[graft] val executions = new java.util.concurrent.atomic.AtomicLong()

  def cacheSize: Int = {
    // opportunistic TTL sweep
    val now = System.currentTimeMillis()
    cache.entrySet().asScala.filter(_.getValue._1 <= now).map(_.getKey).foreach(cache.remove)
    cache.size()
  }

  override def close(): Unit = {
    reaper.shutdownNow()
    pool.shutdownNow()
    userSessions.synchronized(userSessions.clear())
    userLocks.clear()
    if (catalogPolicies.nonEmpty) PolicyEnforcement.uninstall(policyNamespace)
  }
}

object QueryService {
  private[serve] val nextServiceId = new AtomicLong(0)

  /** A result-cache key: the user, then the statement's canonicalized
    * optimized plan, or the text of a statement whose plan holds a
    * typed operator. */
  private final case class CacheKey(user: String, statement: AnyRef)

  /** Declarative per-table security policy: `rowFilter`
    * maps the impersonated user to a SQL predicate over the table's
    * columns (None = unrestricted — a role check lives inside the
    * function), `columnMasks` maps a column name to a SQL expression
    * that REPLACES it in the user's view (it may reference any of the
    * table's columns, e.g. `"concat(substr(email, 1, 2), '***')"`)
    * — Superset's row-level-security + masking surface, enforced
    * inside the engine instead of the BI layer. */
  final case class TablePolicy(
      rowFilter: String => Option[String] = _ => None,
      columnMasks: Map[String, String] = Map.empty)
}

/** Cron-ish recurring query execution — walden's Celery beat schedule
  * (`superset_config.py:57-66`: reports every minute, prune daily),
  * reduced to a JVM scheduler driving the same QueryService.
  */
final class ReportScheduler(service: QueryService) extends AutoCloseable {
  private val timer: ScheduledExecutorService = Executors.newScheduledThreadPool(1)
  private val runCounts = new ConcurrentHashMap[String, AtomicLong]()

  def schedule(name: String, sql: String, everySeconds: Long,
               onResult: Seq[Row] => Unit = _ => ()): Unit = {
    runCounts.putIfAbsent(name, new AtomicLong(0))
    timer.scheduleAtFixedRate(new Runnable {
      override def run(): Unit = {
        service.sql(sql) match {
          case f: service.Finished =>
            runCounts.get(name).incrementAndGet(); onResult(f.rows)
          case _ =>
        }
      }
    }, 0, everySeconds, TimeUnit.SECONDS)
  }

  def runs(name: String): Long = Option(runCounts.get(name)).map(_.get()).getOrElse(0L)
  override def close(): Unit = timer.shutdownNow()
}

package graft

import graft.types.MySqlType

/** Engine settings — the subset of the reference's YAML `Settings`
  * (config.py:133-238, 261-328) that affects data semantics:
  * db/table glob filtering, target renames, type overrides.
  */
final case class GraftConfig(
    includeDatabases: Seq[String] = Nil,  // fnmatch globs; empty = all
    excludeDatabases: Seq[String] = Nil,
    includeTables: Seq[String] = Nil,
    excludeTables: Seq[String] = Nil,
    targetDatabases: Map[String, String] = Map.empty, // db → renamed db
    targetTables: Map[String, String] = Map.empty,    // "db.table" → name
    typesMapping: Map[String, MySqlType] = Map.empty, // e.g. char(36) → MUuid
    mysqlTimezone: String = "UTC",
    /** Drop REMOVE events instead of tombstoning — the target accumulates
      * every row ever seen (config.py `ignore_deletes`;
      * tests/test_mysql_ch_replicator.py:572-641). */
    ignoreDeletes: Boolean = false,
    /** Start realtime replication without the initial bulk snapshot.
      * The reference accepts this BOTH as the settings-file key
      * `skip_initial_replication` (config.py:206) and as the
      * `--skip_initial_replication` CLI flag (main.py:192); the loader
      * honors the file key, [[graft.Main]] callers pass the flag via
      * config (tests/test_mysql_ch_replicator.py:643-695). */
    skipInitialReplication: Boolean = false,
    /** Source connection (config.py `mysql:` section) — consumed by the
      * bootstrap ([[graft.Main]]) to build [[graft.sources.Snapshot.jdbc]]
      * reads; absent in tests/file-based deployments. */
    mysql: Option[MySqlConn] = None,
    /** Event-spool directory (config.py `binlog_replicator.data_dir`) —
      * where the durable change-event queue lives. */
    spoolDir: Option[String] = None,
    /** Snapshot read parallelism (config.py
      * `initial_replication_threads`); 0 = one partition per core. */
    initialReplicationThreads: Int = 0,
    /** Seconds between two compactions of the same table (config.py
      * `optimize_interval`, default 86400); ≤ 0 disables the background
      * compactor entirely. */
    optimizeInterval: Int = 86400,
    /** Master switch for background OPTIMIZE (config.py:151
      * `enable_optimize_final`, default true — the reference gates its
      * db_optimizer process on it, runner.py:162-194). Here it gates the
      * [[graft.operators.Compactor]] the same way: false = never rewrite
      * epochs in the background, rely on FINAL dedup-on-read alone. */
    enableOptimizeFinal: Boolean = true,
    /** HTTP monitoring/control endpoint (config.py:160-161 `http_host` /
      * `http_port`; served by [[graft.streaming.MonitorServer]]); empty
      * host or port 0 with no host disables it, port 0 with a host binds
      * an ephemeral port. */
    httpHost: String = "",
    httpPort: Int = 0,
    /** SQL commands to run against the warehouse after a database's
      * initial replication completes, gated by db globs (config.py
      * `post_initial_replication_commands`,
      * db_replicator_initial.py:472-494). */
    postInitialCommands: Seq[PostInitialCommands] = Nil,
    /** Base value the per-table `_version` counter starts from
      * (config.py:170 `version_initial_value`,
      * clickhouse_api.py:202-205): every stamped version sits strictly
      * above it, so a migrated deployment can stamp over an existing
      * table whose versions already reach N. */
    versionInitialValue: Long = 0L,
    /** Snapshot read batch size (config.py:138
      * `initial_replication_batch_size`, default 50 000): the reference's
      * keyset-page size maps to the JDBC streaming-cursor `fetchsize` —
      * rows per wire round-trip, NOT a pagination unit (shard predicates
      * already bound each read). */
    initialReplicationBatchSize: Int = 50000,
    /** Spool file rotation size (config.py:113
      * `binlog_replicator.records_per_file`, default 100 000): a
      * producer appending via [[graft.sources.EventSpool.writeRotating]]
      * starts a new spool file every N records. */
    spoolRecordsPerFile: Int = 100000,
    /** Spool retention in seconds (config.py:114
      * `binlog_replicator.binlog_retention_period`, default 43 200 =
      * 12 h): fully-rotated spool files older than this are swept after
      * micro-batches (binlog_replicator.py:288-298), the newest files
      * always preserved as the restart replay window. 0 disables the
      * sweep entirely (keep everything — replay-from-zero deployments). */
    spoolRetentionPeriod: Int = 43200) {

  // the reference validates both keys at load time (config.py:120-130);
  // retention additionally admits 0 = "never sweep"
  require(spoolRecordsPerFile > 0,
    "binlog_replicator records_per_file should be positive")
  require(spoolRetentionPeriod >= 0,
    "binlog_replicator binlog_retention_period should be non-negative")

  def postCommandsFor(db: String): Seq[String] =
    postInitialCommands.filter(p =>
      p.databases.isEmpty || p.databases.exists(g => db.matches(globRegex(g))))
      .flatMap(_.commands)

  /** fnmatch-style glob → anchored regex (config.py:261-282 uses
    * fnmatch; `*` and `?` only, everything else literal). */
  private def globRegex(g: String): String =
    "(?s)^" + g.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    } + "$"

  private def matches(globs: Seq[String], s: String): Boolean =
    globs.exists(g => s.matches(globRegex(g)))

  def databaseMatches(db: String): Boolean =
    (includeDatabases.isEmpty || matches(includeDatabases, db)) &&
      !matches(excludeDatabases, db)

  def tableMatches(table: String): Boolean =
    (includeTables.isEmpty || matches(includeTables, table)) &&
      !matches(excludeTables, table)

  def targetDatabase(db: String): String =
    targetDatabases.getOrElse(db, db)

  def targetTable(db: String, table: String): String =
    targetTables.getOrElse(s"$db.$table", table)
}

/** One `post_initial_replication_commands` entry (config.py:227-229,
  * 330-337): db glob(s) → SQL command list to run after that database's
  * initial replication completes. */
final case class PostInitialCommands(databases: Seq[String],
                                     commands: Seq[String])

/** Source MySQL connection settings (config.py `mysql:`). */
final case class MySqlConn(host: String, port: Int, user: String,
                           password: String) {
  def jdbcUrl(db: String): String = s"jdbc:mysql://$host:$port/$db"
  def properties: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("user", user)
    p.setProperty("password", password)
    p
  }
}

object GraftConfig {

  /** The reference's COMPLETE top-level settings surface — every key
    * `Settings.load` pops from the YAML (config.py:172-238) — split into
    * the keys this engine parses and the keys it consciously ignores,
    * each ignore carrying its structural reason. [[ConfigSpec]] asserts
    * the two sets are disjoint and together cover exactly this
    * inventory, so a new reference key can't silently fall through, and
    * [[parseYaml]] rejects anything outside the union the way the
    * reference rejects "Unsupported config options" (config.py:235-236).
    */
  val parsedKeys: Set[String] = Set(
    "mysql", "databases", "tables", "exclude_databases", "exclude_tables",
    "target_databases", "target_tables", "types_mapping", "mysql_timezone",
    "ignore_deletes", "skip_initial_replication", "binlog_replicator",
    "initial_replication_threads", "initial_replication_batch_size",
    "optimize_interval", "enable_optimize_final", "http_host", "http_port",
    "version_initial_value", "post_initial_replication_commands")

  val ignoredKeys: Map[String, String] = Map(
    "clickhouse" ->
      ("sink connection + cluster topology: the sink here is the Spark " +
        "warehouse, not a ClickHouse server — see ignoredSubKeys for the " +
        "per-field arguments, incl. `cluster`"),
    "log_level" ->
      "process logging is Spark's log4j2 config, not an engine setting",
    "indexes" ->
      ("ClickHouse physical-DDL override (config.py:154): the skip-index " +
        "analogue is parquet row-group min/max stats, written always"),
    "partition_bys" ->
      ("ClickHouse physical-DDL override (config.py:155): the engine " +
        "fixes PK bucketing — the reference's default partition " +
        "expression — for co-located writes and one-bucket point reads"),
    "order_bys" ->
      ("ClickHouse physical-DDL override (config.py:156): FINAL ordering " +
        "is the registry's primary keys, the reference's default ORDER BY"),
    "auto_restart_interval" ->
      ("process-supervision cadence (config.py:137): restarts belong to " +
        "the cluster manager / the HTTP /restart_replication hook"),
    "check_db_updated_interval" ->
      ("discovery polling cadence (config.py:136): the tick schedule " +
        "belongs to Discovery.tick's caller, not the engine"))

  /** Sub-key inventory for the sectioned keys, same contract: parsed ∪
    * ignored = the reference dataclass's full field list
    * (MysqlSettings config.py:13-19, ClickhouseSettings config.py:66-74,
    * BinlogReplicatorSettings config.py:110-113). */
  val parsedSubKeys: Set[String] = Set(
    "mysql.host", "mysql.port", "mysql.user", "mysql.password",
    "binlog_replicator.data_dir", "binlog_replicator.records_per_file",
    "binlog_replicator.binlog_retention_period")

  val ignoredSubKeys: Map[String, String] = Map(
    "mysql.charset" ->
      ("the JDBC driver negotiates the session charset; per-COLUMN " +
        "charsets (the data-visible part) are decoded by types/Charsets"),
    "clickhouse.host" -> "no ClickHouse server: the sink is the warehouse",
    "clickhouse.port" -> "no ClickHouse server: the sink is the warehouse",
    "clickhouse.user" -> "no ClickHouse server: the sink is the warehouse",
    "clickhouse.password" ->
      "no ClickHouse server: the sink is the warehouse",
    "clickhouse.cluster" ->
      ("cluster mode (config.py:71,203) makes the reference create " +
        "ReplicatedReplacingMergeTree + a Distributed shadow table per " +
        "table (clickhouse_api.py:233-301) — sharding, replication, and " +
        "scatter-gather reads. Spark's execution model provides all " +
        "three structurally: the warehouse is PK-bucketed parquet every " +
        "executor reads partition-parallel (the Distributed analogue), " +
        "durability/replication belongs to the storage layer under the " +
        "warehouse path (HDFS replication / S3), and there is no " +
        "per-node table to replicate — so the key is consciously a " +
        "no-op, not silently absent"),
    "clickhouse.connection_timeout" -> "no ClickHouse connection to time",
    "clickhouse.send_receive_timeout" -> "no ClickHouse connection to time",
    "clickhouse.erase_batch_size" ->
      ("the reference deletes ignored-delete backlogs in batched " +
        "mutations (clickhouse_api.py erase); deletes here are tombstone " +
        "rows collapsed by FINAL — no mutation batching exists"))

  /** Load the reference's YAML settings file (config.py:133-238,
    * example_config.yaml) — the data-semantics subset. Consciously
    * ignored keys are inventoried in [[ignoredKeys]]/[[ignoredSubKeys]]
    * (completeness-checked against the reference in ConfigSpec), so a
    * reference user's config file loads unchanged; unknown keys are
    * rejected like the reference's config.py:235-236.
    */
  def load(path: String): GraftConfig =
    fromYaml(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  def fromYaml(text: String): GraftConfig = fromYaml(text, sys.env)

  /** Env-var overrides after the file parse, mirroring the reference's
    * `_apply_env_overrides` (config.py:240-259): `MYSQL_HOST` / `PORT` /
    * `USER` / `PASSWORD` override (or, with `MYSQL_HOST` alone, create)
    * the source connection — the container-deployment pattern where
    * credentials live in the orchestrator, not the settings file.
    * `env` is injectable for tests. */
  def fromYaml(text: String, env: Map[String, String]): GraftConfig = {
    val parsed = parseYaml(text)
    val base = parsed.mysql.orElse(
      if (env.contains("MYSQL_HOST"))
        Some(MySqlConn("localhost", 3306, "root", ""))
      else None)
    parsed.copy(mysql = base.map(c => c.copy(
      host = env.getOrElse("MYSQL_HOST", c.host),
      port = env.get("MYSQL_PORT").map(_.trim.toInt).getOrElse(c.port),
      user = env.getOrElse("MYSQL_USER", c.user),
      password = env.getOrElse("MYSQL_PASSWORD", c.password))))
  }

  private def parseYaml(text: String): GraftConfig = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    val root = mapper.readTree(text)
    import scala.jdk.CollectionConverters._
    // reject unknown keys like the reference (config.py:235-236:
    // "Unsupported config options") — typos fail at load, not silently
    val known = parsedKeys ++ ignoredKeys.keySet
    val unknown = root.fieldNames().asScala.toSeq.filterNot(known)
    require(unknown.isEmpty, s"Unsupported config options: $unknown")
    def subUnknown(section: String): Seq[String] = root.get(section) match {
      case null => Nil
      case n =>
        val sk = (parsedSubKeys ++ ignoredSubKeys.keySet)
          .collect { case k if k.startsWith(section + ".") =>
            k.drop(section.length + 1) }
        n.fieldNames().asScala.toSeq.filterNot(sk)
    }
    for (s <- Seq("mysql", "clickhouse", "binlog_replicator")) {
      val u = subUnknown(s)
      require(u.isEmpty, s"Unsupported config options: ${u.map(s + "." + _)}")
    }
    // `databases`/`tables` accept a glob string OR a list (config.py:233-234)
    def globs(key: String): Seq[String] = root.get(key) match {
      case null => Nil
      case n if n.isArray =>
        n.elements().asScala.map(_.asText()).toSeq.filter(_.nonEmpty)
      case n => Seq(n.asText()).filter(_.nonEmpty)
    }
    def strMap(key: String): Map[String, String] = root.get(key) match {
      case null => Map.empty
      case n => n.fields().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
    }
    GraftConfig(
      includeDatabases = globs("databases"),
      excludeDatabases = globs("exclude_databases"),
      // reference default tables='*' — same as our "no filter"
      includeTables = globs("tables").filterNot(_ == "*"),
      excludeTables = globs("exclude_tables"),
      targetDatabases = strMap("target_databases"),
      targetTables = strMap("target_tables"),
      typesMapping = strMap("types_mapping").map { case (k, v) =>
        k.toLowerCase -> parseTargetType(v)
      },
      mysqlTimezone = Option(root.get("mysql_timezone"))
        .map(_.asText()).getOrElse("UTC"),
      ignoreDeletes = Option(root.get("ignore_deletes"))
        .exists(_.asBoolean(false)),
      skipInitialReplication = Option(root.get("skip_initial_replication"))
        .exists(_.asBoolean(false)),
      mysql = Option(root.get("mysql")).map { m =>
        MySqlConn(
          host = Option(m.get("host")).map(_.asText()).getOrElse("localhost"),
          port = Option(m.get("port")).map(_.asInt()).getOrElse(3306),
          user = Option(m.get("user")).map(_.asText()).getOrElse("root"),
          password = Option(m.get("password")).map(_.asText()).getOrElse(""))
      },
      spoolDir = Option(root.get("binlog_replicator"))
        .flatMap(b => Option(b.get("data_dir"))).map(_.asText()),
      spoolRecordsPerFile = Option(root.get("binlog_replicator"))
        .flatMap(b => Option(b.get("records_per_file")))
        .map(_.asInt()).getOrElse(100000),
      spoolRetentionPeriod = Option(root.get("binlog_replicator"))
        .flatMap(b => Option(b.get("binlog_retention_period")))
        .map(_.asInt()).getOrElse(43200),
      initialReplicationThreads =
        Option(root.get("initial_replication_threads"))
          .map(_.asInt()).getOrElse(0),
      optimizeInterval = Option(root.get("optimize_interval"))
        .map(_.asInt()).getOrElse(86400),
      enableOptimizeFinal = Option(root.get("enable_optimize_final"))
        .forall(_.asBoolean(true)),
      httpHost = Option(root.get("http_host")).map(_.asText()).getOrElse(""),
      httpPort = Option(root.get("http_port")).map(_.asInt()).getOrElse(0),
      versionInitialValue = Option(root.get("version_initial_value"))
        .map(_.asLong()).getOrElse(0L),
      initialReplicationBatchSize =
        Option(root.get("initial_replication_batch_size"))
          .map(_.asInt()).getOrElse(50000),
      postInitialCommands =
        Option(root.get("post_initial_replication_commands")).toSeq
          .flatMap(_.elements().asScala).map { n =>
            def list(key: String): Seq[String] = n.get(key) match {
              case null => Nil
              case d if d.isArray =>
                d.elements().asScala.map(_.asText()).toSeq.filter(_.nonEmpty)
              case d => Seq(d.asText()).filter(_.nonEmpty)
            }
            PostInitialCommands(list("databases"), list("commands"))
          })
  }

  /** types_mapping values are target type names ('UUID') or MySQL type
    * text; both resolve to the engine's type ADT. */
  private def parseTargetType(v: String): MySqlType = v.trim.toLowerCase match {
    case "uuid" => MySqlType.MUuid
    case other => graft.types.TypeParser.parse(other).tpe
  }
}

package graft

import graft.types.MySqlType
import org.scalatest.funsuite.AnyFunSuite

/** YAML settings parity with the reference's config.py / example_config
  * shape: a reference user's file loads unchanged, connection keys
  * ignored.
  */
class ConfigSpec extends AnyFunSuite {

  test("env-var overrides mirror _apply_env_overrides (config.py:240-259)") {
    val yaml =
      """mysql:
        |  host: filehost
        |  port: 3306
        |  user: u
        |  password: p
        |""".stripMargin
    // env wins over file values
    val c = GraftConfig.fromYaml(yaml,
      Map("MYSQL_HOST" -> "envhost", "MYSQL_PORT" -> "3307"))
    assert(c.mysql.contains(MySqlConn("envhost", 3307, "u", "p")))
    // MYSQL_HOST alone creates the section (container deployments keep
    // credentials out of the settings file entirely)
    val c2 = GraftConfig.fromYaml("databases: d\n",
      Map("MYSQL_HOST" -> "h2", "MYSQL_PASSWORD" -> "s"))
    assert(c2.mysql.contains(MySqlConn("h2", 3306, "root", "s")))
    // no env → file values untouched
    assert(GraftConfig.fromYaml(yaml, Map.empty).mysql
      .contains(MySqlConn("filehost", 3306, "u", "p")))
  }

  test("optimize_interval + post_initial_replication_commands parse") {
    val c = GraftConfig.fromYaml(
      """optimize_interval: 60
        |post_initial_replication_commands:
        |  - databases: 'prod*'
        |    commands:
        |      - 'SELECT 1'
        |      - 'SELECT 2'
        |  - databases: ['a', 'b']
        |    commands: 'SELECT 3'
        |""".stripMargin, Map.empty)
    assert(c.optimizeInterval === 60)
    assert(c.postCommandsFor("production") === Seq("SELECT 1", "SELECT 2"))
    assert(c.postCommandsFor("b") === Seq("SELECT 3"))
    assert(c.postCommandsFor("x") === Nil)
    // defaults: daily compaction, no commands
    val d = GraftConfig.fromYaml("databases: d\n", Map.empty)
    assert(d.optimizeInterval === 86400 && d.postInitialCommands.isEmpty)
  }

  test("the reference's example_config.yaml loads verbatim") {
    // the exact shape of the reference repo's example_config.yaml —
    // connection sections honored/ignored per the loader doc, globs,
    // spool settings all land
    val yaml =
      """mysql:
        |  host: 'localhost'
        |  port: 8306
        |  user: 'root'
        |  password: 'root'
        |  charset: 'utf8mb4'
        |
        |clickhouse:
        |  host: 'localhost'
        |  port: 8323
        |  user: 'default'
        |  password: 'default'
        |
        |binlog_replicator:
        |  data_dir: '/home/user/binlog/'
        |  records_per_file: 100000
        |
        |databases: 'database_name_pattern_*'
        |""".stripMargin
    val c = GraftConfig.fromYaml(yaml, Map.empty)
    assert(c.mysql.contains(MySqlConn("localhost", 8306, "root", "root")))
    assert(c.spoolDir.contains("/home/user/binlog/"))
    assert(c.spoolRecordsPerFile === 100000)
    assert(c.spoolRetentionPeriod === 43200) // reference default
    assert(c.databaseMatches("database_name_pattern_x"))
    assert(!c.databaseMatches("other_db"))
    assert(c.tableMatches("anything")) // no tables key = replicate all
  }

  test("binlog_replicator rotation + retention keys parse (config.py:113-114)") {
    val c = GraftConfig.fromYaml(
      """binlog_replicator:
        |  data_dir: '/home/user/binlog/'
        |  records_per_file: 100000
        |  binlog_retention_period: 43200
        |""".stripMargin, Map.empty)
    assert(c.spoolDir.contains("/home/user/binlog/"))
    assert(c.spoolRecordsPerFile === 100000)
    assert(c.spoolRetentionPeriod === 43200)
    // defaults mirror the reference's BinlogReplicatorSettings
    val d = GraftConfig.fromYaml("databases: d\n", Map.empty)
    assert(d.spoolRecordsPerFile === 100000 && d.spoolRetentionPeriod === 43200)
    // non-positive values are rejected at load, like config.py:120-130
    intercept[IllegalArgumentException] {
      GraftConfig.fromYaml(
        "binlog_replicator:\n  records_per_file: 0\n", Map.empty)
    }
    intercept[IllegalArgumentException] {
      GraftConfig.fromYaml(
        "binlog_replicator:\n  binlog_retention_period: -1\n", Map.empty)
    }
    // retention 0 = sweep disabled (replay-from-zero keeps everything)
    assert(GraftConfig.fromYaml(
      "binlog_replicator:\n  binlog_retention_period: 0\n", Map.empty)
      .spoolRetentionPeriod === 0)
  }

  test("version_initial_value parses and offsets the stamp base") {
    val c = GraftConfig.fromYaml("version_initial_value: 1000000\n", Map.empty)
    assert(c.versionInitialValue === 1000000L)
    assert(GraftConfig.fromYaml("databases: d\n", Map.empty)
      .versionInitialValue === 0L)
  }

  test("initial_replication_batch_size parses; reference default 50000") {
    assert(GraftConfig.fromYaml("initial_replication_batch_size: 7000\n",
      Map.empty).initialReplicationBatchSize === 7000)
    assert(GraftConfig.fromYaml("databases: d\n", Map.empty)
      .initialReplicationBatchSize === 50000)
  }

  test("reference-shaped YAML loads; connection sections ignored") {
    val c = GraftConfig.fromYaml(
      """mysql:
        |  host: 'localhost'
        |  port: 8306
        |clickhouse:
        |  host: 'localhost'
        |binlog_replicator:
        |  data_dir: '/tmp/binlog/'
        |databases: 'prod_*'
        |tables: '*'
        |exclude_databases: ['staging', 'tmp*']
        |exclude_tables: 'audit_*'
        |target_databases:
        |  prod_main: analytics
        |target_tables:
        |  prod_main.users: members
        |types_mapping:
        |  'char(36)': 'UUID'
        |  'bigint unsigned': 'bigint'
        |mysql_timezone: 'Europe/Berlin'
        |ignore_deletes: true
        |skip_initial_replication: true
        |""".stripMargin)
    assert(c.databaseMatches("prod_x") && !c.databaseMatches("staging"))
    assert(!c.databaseMatches("tmp_1") && !c.databaseMatches("other"))
    assert(c.tableMatches("users") && !c.tableMatches("audit_log"))
    assert(c.targetDatabase("prod_main") === "analytics")
    assert(c.targetTable("prod_main", "users") === "members")
    assert(c.typesMapping("char(36)") === MySqlType.MUuid)
    assert(c.typesMapping("bigint unsigned") ===
      MySqlType.MInt(8, unsigned = false)) // remap kills the unsigned fixup
    assert(c.mysqlTimezone === "Europe/Berlin")
    assert(c.ignoreDeletes && c.skipInitialReplication)
  }

  test("defaults: everything admitted, no remaps, modes off") {
    val c = GraftConfig.fromYaml("databases: '*'\n")
    assert(c.databaseMatches("anything") && c.tableMatches("t"))
    assert(c.targetDatabase("d") === "d" && c.targetTable("d", "t") === "t")
    assert(!c.ignoreDeletes && !c.skipInitialReplication)
    assert(c.mysqlTimezone === "UTC")
  }

  test("list-form databases and glob semantics match fnmatch") {
    val c = GraftConfig.fromYaml("databases: ['db1', 'repl_?']\n")
    assert(c.databaseMatches("db1") && c.databaseMatches("repl_a"))
    assert(!c.databaseMatches("repl_ab") && !c.databaseMatches("db2"))
  }

  test("key inventory covers the reference's settings surface completely") {
    // every top-level key Settings.load pops from the YAML
    // (config.py:172-238) — transcribed, not derived, so a reference
    // upgrade that adds a key forces a conscious decision here
    val referenceTopLevel = Set(
      "mysql", "clickhouse", "databases", "tables",
      "exclude_databases", "exclude_tables", "log_level",
      "optimize_interval", "enable_optimize_final",
      "check_db_updated_interval", "auto_restart_interval",
      "types_mapping", "http_host", "http_port",
      "target_databases", "target_tables", "initial_replication_threads",
      "ignore_deletes", "mysql_timezone", "initial_replication_batch_size",
      "skip_initial_replication", "version_initial_value",
      "indexes", "partition_bys", "order_bys",
      "post_initial_replication_commands", "binlog_replicator")
    // every sectioned sub-key = the reference dataclass fields
    // (MysqlSettings config.py:13-19, ClickhouseSettings config.py:66-74,
    // BinlogReplicatorSettings config.py:110-113)
    val referenceSub = Set(
      "mysql.host", "mysql.port", "mysql.user", "mysql.password",
      "mysql.charset",
      "clickhouse.host", "clickhouse.port", "clickhouse.user",
      "clickhouse.password", "clickhouse.cluster",
      "clickhouse.connection_timeout", "clickhouse.send_receive_timeout",
      "clickhouse.erase_batch_size",
      "binlog_replicator.data_dir", "binlog_replicator.records_per_file",
      "binlog_replicator.binlog_retention_period")

    // parsed ∪ ignored = exactly the reference surface, no overlap,
    // every ignore carrying a non-empty reason
    assert(GraftConfig.parsedKeys.intersect(
      GraftConfig.ignoredKeys.keySet).isEmpty)
    assert(GraftConfig.parsedKeys ++ GraftConfig.ignoredKeys.keySet ===
      referenceTopLevel)
    assert(GraftConfig.parsedSubKeys.intersect(
      GraftConfig.ignoredSubKeys.keySet).isEmpty)
    assert(GraftConfig.parsedSubKeys ++ GraftConfig.ignoredSubKeys.keySet ===
      referenceSub)
    assert(GraftConfig.ignoredKeys.values.forall(_.nonEmpty))
    assert(GraftConfig.ignoredSubKeys.values.forall(_.nonEmpty))
    // the ClickHouse cluster key in particular: consciously ignored with
    // the Spark-is-inherently-distributed argument, not silently absent
    assert(GraftConfig.ignoredSubKeys("clickhouse.cluster")
      .contains("Distributed"))

    // a full config exercising every reference key loads unchanged
    val c = GraftConfig.fromYaml(
      """mysql: {host: h, port: 3306, user: u, password: p, charset: utf8mb4}
        |clickhouse: {host: h, port: 9000, user: u, password: p,
        |  cluster: main, connection_timeout: 30,
        |  send_receive_timeout: 120, erase_batch_size: 100000}
        |binlog_replicator: {data_dir: /tmp/spool, records_per_file: 1000,
        |  binlog_retention_period: 600}
        |databases: '*'
        |tables: '*'
        |exclude_databases: ''
        |exclude_tables: ''
        |log_level: info
        |optimize_interval: 60
        |enable_optimize_final: false
        |check_db_updated_interval: 120
        |auto_restart_interval: 3600
        |types_mapping: {}
        |http_host: ''
        |http_port: 0
        |target_databases: {}
        |target_tables: {}
        |initial_replication_threads: 4
        |ignore_deletes: false
        |mysql_timezone: UTC
        |initial_replication_batch_size: 50000
        |skip_initial_replication: false
        |version_initial_value: 0
        |indexes: []
        |partition_bys: []
        |order_bys: []
        |post_initial_replication_commands: []
        |""".stripMargin, Map.empty)
    assert(!c.enableOptimizeFinal) // parsed, not ignored (config.py:151)
    assert(GraftConfig.fromYaml("databases: d\n", Map.empty)
      .enableOptimizeFinal) // reference default true

    // unknown keys are rejected like config.py:235-236
    val e = intercept[IllegalArgumentException] {
      GraftConfig.fromYaml("dtabases: '*'\n", Map.empty)
    }
    assert(e.getMessage.contains("Unsupported config options"))
    assert(e.getMessage.contains("dtabases"))
    for (typo <- Seq("data_dirr: x", "format: json")) { // no spool format key
      val e2 = intercept[IllegalArgumentException] {
        GraftConfig.fromYaml(s"binlog_replicator: {$typo}\n", Map.empty)
      }
      assert(e2.getMessage.contains("Unsupported config options"))
      assert(e2.getMessage.contains(typo.takeWhile(_ != ':')))
    }
  }

  test("only GraftSession builds a SparkSession in src/main") {
    // the codegen cache bound and artifact isolation are static session
    // settings: a tool or main building its own session would silently
    // run without them
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repository root: no $root")
    val builds = "SparkSession\\s*\\.\\s*[bB]uilder".r
    val builders = java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => builds.findFirstIn(java.nio.file.Files.readString(p))
        .nonEmpty)
      .map(_.getFileName.toString).toSeq
    assert(builders === Seq("GraftSession.scala"))
  }
}

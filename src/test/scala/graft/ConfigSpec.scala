package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Config, CredentialsError, Session}

/** Connection-config YAML parity — mirrors the reference's
  * read_config_yaml tests (tests/test_utility.py:240-262) and the
  * .locopyrc fixture shape (tests/data/.locopyrc). */
class ConfigSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val goodYaml =
    """# connection config (reference .locopyrc shape)
      |host: my.redshift.cluster.com
      |port: 1234
      |database: db
      |user: userid
      |password: "pass"
      |profile: MY_AWS_PROFILE  # trailing comment
      |""".stripMargin

  test("read_config_yaml: file form parses keys, ints, quotes, comments") {
    val f = java.nio.file.Files.createTempFile("graftrc", ".yml")
    java.nio.file.Files.writeString(f, goodYaml)
    val cfg = Config.readConfigYaml(f.toString)
    assert(cfg.keySet == Set("host", "port", "database", "user", "password", "profile"))
    assert(cfg("host") == "my.redshift.cluster.com")
    assert(cfg("port") == 1234) // coerced Int, like yaml.safe_load
    assert(cfg("database") == "db")
    assert(cfg("user") == "userid")
    assert(cfg("password") == "pass") // quotes stripped
    assert(cfg("profile") == "MY_AWS_PROFILE") // comment stripped
    java.nio.file.Files.delete(f)
  }

  test("read_config_yaml: string form (reference open-file-pointer form)") {
    val cfg = Config.readConfigYamlString(goodYaml)
    assert(cfg("port") == 1234 && cfg("host") == "my.redshift.cluster.com")
  }

  test("read_config_yaml: missing file raises CredentialsError") {
    intercept[CredentialsError] {
      Config.readConfigYaml("/nonexistent/file_that_does_not_exist.yml")
    }
  }

  test("read_config_yaml: malformed line raises CredentialsError") {
    intercept[CredentialsError] {
      Config.readConfigYamlString("host: ok\nnot a key value line\n")
    }
  }

  test("read_config_yaml: '#' without preceding whitespace is not a comment (yaml rule)") {
    val cfg = Config.readConfigYamlString("password: p#ss\nkey2: v  # real comment\n")
    assert(cfg("password") == "p#ss")
    assert(cfg("key2") == "v")
  }

  test("buildFromYaml: reference .locopyrc credential keys are ignored, not USEd") {
    val f = java.nio.file.Files.createTempFile("graftrc_build", ".yml")
    java.nio.file.Files.writeString(f, goodYaml) // database: db — no such namespace
    val before = spark.catalog.currentDatabase
    val s2 = Session.buildFromYaml(f.toString) // must not throw
    assert(s2.catalog.currentDatabase == before)
    java.nio.file.Files.delete(f)
  }

  test("one session factory: only core/Session.scala builds a SparkSession in code") {
    import scala.jdk.CollectionConverters._
    // comments (scaladoc examples included) and string literals are
    // not code; string alternatives come first so "a/*" opens no comment
    val nonCode = """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|/\*.*?\*/|//[^\n]*""".r
    val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("core/Session.scala")))
    val offenders = files.filterNot(_.endsWith("core/Session.scala")).filter { f =>
      val code = nonCode.replaceAllIn(java.nio.file.Files.readString(f), "")
      builderCall.findFirstIn(code).isDefined
    }
    assert(offenders.isEmpty,
      "sessions must come from core.Session.build: " + offenders.mkString(", "))
  }

  test("one segment reader: only io/ManifestTable.scala reads a manifest segment dir as parquet") {
    import scala.jdk.CollectionConverters._
    // comments are stripped; string literals stay, since the segment
    // path is itself an interpolated string (strings are matched first
    // so "a//b" opens no comment)
    val comment = """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|/\*.*?\*/|//[^\n]*""".r
    // `.parquet(` whose arguments build `<...root>/<segment>` paths
    val segmentRead = """\.parquet\(\s*[^\n]*?s"\$\{?\w*[Rr]oot\}?/\$""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val reader = files.find(_.endsWith("io/ManifestTable.scala"))
    assert(reader.exists(f => segmentRead.findFirstIn(
      java.nio.file.Files.readString(f)).isDefined), "the lint must see the reader's own reads")
    val offenders = files.filterNot(reader.contains).filter { f =>
      val code = comment.replaceAllIn(java.nio.file.Files.readString(f),
        m => if (m.matched.startsWith("/")) "" else
          java.util.regex.Matcher.quoteReplacement(m.matched))
      segmentRead.findFirstIn(code).isDefined
    }
    assert(offenders.isEmpty,
      "manifest segments are read through ManifestTable.readSegs: " +
        offenders.mkString(", "))
  }

  test("one segment writer: only ManifestTable.writeSegments writes parquet into a manifest segment or temp shell") {
    import scala.jdk.CollectionConverters._
    // comments are stripped; string literals stay (the segment and
    // temp-shell paths are themselves interpolated strings)
    val comment = """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|/\*.*?\*/|//[^\n]*""".r
    // `.parquet(` straight into `<root>/…`, or the removed `writeSeg(`
    val segmentWrite = """\.parquet\(\s*s"\$\{?\w*[Rr]oot\}?/|\bwriteSeg\(""".r
    // the writer's body: from its `def` to the next member at class indent
    val nextMember = """\n  (?![\s}])""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    var writerSeen = false
    val offenders = files.flatMap { f =>
      val code = comment.replaceAllIn(java.nio.file.Files.readString(f),
        m => if (m.matched.startsWith("/")) m.matched.filter(_ == '\n') else
          java.util.regex.Matcher.quoteReplacement(m.matched))
      val start = code.indexOf("def writeSegments(")
      val end = if (start < 0) -1
        else nextMember.findFirstMatchIn(code.substring(start)).fold(code.length)(start + _.start)
      segmentWrite.findAllMatchIn(code).flatMap { m =>
        if (m.start > start && m.start < end) { writerSeen = true; None }
        else Some(s"$f:${code.take(m.start).count(_ == '\n') + 1}")
      }
    }
    assert(offenders.isEmpty,
      "manifest segments are written through ManifestTable.writeSegments: " +
        offenders.mkString(", "))
    assert(writerSeen, "the lint must see the writer's own segment write")
  }

  test("streaming state is manifest-only: graft/streaming writes no catalog table") {
    import scala.jdk.CollectionConverters._
    // comments are stripped; string literals stay (the SQL verbs are
    // themselves strings)
    val comment = """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|/\*.*?\*/|//[^\n]*""".r
    val catalogWrite =
      """saveAsTable|insertInto|RENAME TO|MSCK REPAIR|partitionOverwriteMode""".r
    val files = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main/scala/graft/streaming"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("Stream.scala")), "the lint must see Stream.scala")
    val offenders = files.flatMap { f =>
      val code = comment.replaceAllIn(java.nio.file.Files.readString(f),
        m => if (m.matched.startsWith("/")) m.matched.filter(_ == '\n') else
          java.util.regex.Matcher.quoteReplacement(m.matched))
      catalogWrite.findAllMatchIn(code).map(m =>
        s"$f:${code.take(m.start).count(_ == '\n') + 1} ${m.matched}")
    }
    assert(offenders.isEmpty,
      "streaming state commits through ManifestTable, not catalog tables: " +
        offenders.mkString(", "))
  }

  test("TestSession carries the shared session settings") {
    assert(spark.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot")))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") ==
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    assert(spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
  }

  test("useContext: database maps to current catalog namespace; warehouse is a logged no-op") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_ctx_db")
    val before = spark.catalog.currentDatabase
    try {
      Session.useContext(spark,
        warehouse = Some("COMPUTE_WH"), database = Some("graft_ctx_db"))
      assert(spark.catalog.currentDatabase == "graft_ctx_db")
      intercept[graft.core.ExecError] {
        Session.useContext(spark, schema = Some("graft_ctx_nope"))
      }
    } finally {
      spark.catalog.setCurrentDatabase(before)
      spark.sql("DROP DATABASE IF EXISTS graft_ctx_db")
    }
  }
}

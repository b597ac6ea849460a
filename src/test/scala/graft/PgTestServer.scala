package graft

import java.nio.file.{Files, Paths}

import scala.sys.process._

/** One PostgreSQL server per test JVM for the live-Postgres catalog specs
  * (reference test/configs/postgres.json runs its suites against a real
  * server). Boots a throwaway cluster under /tmp on a free port with
  * trust auth, and removes it at JVM exit; PG refuses to run as root, so
  * every server command runs as `nobody`. `urlBase` is None when any
  * precondition is missing (no binaries, not root, boot failure) — specs
  * `assume` on it. */
object PgTestServer {

  private def sh(cmd: String): (Int, String) = {
    val out = new StringBuilder
    val code = Process(Seq("su", "-s", "/bin/bash", "nobody", "-c", cmd))
      .!(ProcessLogger(l => out.append(l).append('\n'),
        l => out.append(l).append('\n')))
    (code, out.toString)
  }

  lazy val urlBase: Option[String] =
    try boot()
    catch { case _: Throwable => None }

  /** jdbc URL for a FRESH database (created on the fly). */
  def freshDbUrl(hint: String): Option[String] = urlBase.map { base =>
    val name = ("g_" + hint.replaceAll("[^A-Za-z0-9]", "").takeRight(24) +
      "_" + java.util.UUID.randomUUID().toString.take(8)).toLowerCase
    val (c, out) = sh(s"createdb -h 127.0.0.1 -p $port $name")
    require(c == 0, s"createdb failed: $out")
    s"$base/$name?user=nobody"
  }

  private var port: Int = _

  private def boot(): Option[String] = {
    val haveBins = Seq("initdb", "pg_ctl", "createdb").forall(b =>
      Process(Seq("bash", "-c", s"command -v $b")).!(ProcessLogger(_ => ())) == 0)
    if (!haveBins || !"root".equals(System.getProperty("user.name")))
      return None
    // under /tmp, not java.io.tmpdir: `nobody` must reach the cluster,
    // and the test groups' temp roots sit under the repository's target/
    val root = Files.createTempDirectory(Paths.get("/tmp"), "graftpg")
    // the cluster runs as nobody: it needs to own its data dir
    Process(Seq("chown", "-R", "nobody", root.toString)).!!
    val (ic, iout) = sh(s"initdb -A trust -D $root/data")
    if (ic != 0) { System.err.println(s"[pg] initdb failed: $iout"); return None }
    port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val opts = s"-c listen_addresses=127.0.0.1 -c port=$port " +
      s"-c unix_socket_directories=$root -c fsync=off"
    val (sc, sout) = sh(
      s"pg_ctl -D $root/data -o '$opts' -l $root/log -w start")
    if (sc != 0) { System.err.println(s"[pg] start failed: $sout"); return None }
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      sh(s"pg_ctl -D $root/data -m immediate stop"): Unit
      Process(Seq("rm", "-rf", root.toString)).! : Unit
    }))
    Some(s"jdbc:postgresql://127.0.0.1:$port")
  }
}

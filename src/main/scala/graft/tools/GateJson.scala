package graft.tools

/** What the gate tools (Chaos/Skew/Spill/Concurrency/StateMetrics/
  * DriverKill) share: the scenario loop and the JSON-string escaper its
  * lines need. */
object GateJson {

  /** JSON string escape. The per-scenario lines interpolate exception
    * messages, which can contain quotes, backslashes and newlines — exactly
    * in the failure cases the gate-*.json artifacts most need to stay
    * machine-readable. */
  def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'            => sb.append("\\\"")
      case '\\'           => sb.append("\\\\")
      case '\n'           => sb.append("\\n")
      case '\r'           => sb.append("\\r")
      case '\t'           => sb.append("\\t")
      case c if c < 0x20  => sb.append(f"\\u${c.toInt}%04x")
      case c              => sb.append(c)
    }
    sb.toString
  }

  /** The scenario loop of a gate main: runs the scenarios `mode` selects
    * ("all" or one name), times each, turns a throw into a failed scenario,
    * and prints one line per scenario:
    * `{"scenario", <extra fields>, "pass", "secs", "detail"}`. */
  final class Scenarios(mode: String) {
    private var failures = 0

    /** `judge(ok)` runs after the body and gives the extra fields (printed
      * in order, values unquoted) and whether the scenario passes; the
      * default adds none and passes when the body does. */
    def run(name: String,
            judge: Boolean => (Seq[(String, Any)], Boolean) = ok => (Nil, ok))(
        body: => (Boolean, String)): Unit =
      if (mode == "all" || mode == name) {
        val t0 = System.nanoTime()
        val (ok, detail) =
          try body
          catch { case e: Throwable =>
            (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val secs = (System.nanoTime() - t0) / 1e9
        val (extra, pass) = judge(ok)
        if (!pass) failures += 1
        val fields = extra.map { case (k, v) => s""""$k":$v,""" }.mkString
        println(f"""{"scenario":"$name",$fields"pass":$pass,"secs":$secs%.1f,"detail":"${esc(detail)}"}""")
      }

    /** Exit 1 when any scenario failed. */
    def exitOnFailure(): Unit = if (failures > 0) sys.exit(1)
  }
}

// Options census: which defaulted `def` parameters of the program does any
// caller set?
//
// Type-checks the given source roots with the Scala compiler (up to the
// typer phase, no class files) and walks every call. After the typer, named
// and positional arguments are resolved to parameters and an omitted
// argument is a call to the method's `$default$N` getter, so a parameter
// counts as set by a call exactly when its argument is anything else. Eta
// expansion and forwarding count as setting, recursion too.
//
// Build and run from the repository root, with SPARK_JARS the Spark jars
// directory (build.sbt's `unmanagedBase`) and TEST_JARS the ':'-separated
// scalatest, scalactic and scalacheck jars the test root compiles against:
//
//   mkdir -p /tmp/census
//   java -cp "$SPARK_JARS/*" scala.tools.nsc.Main -d /tmp/census \
//     -classpath "$SPARK_JARS/*" tools/OptionsCensus.scala
//   java -Xss8m -cp "/tmp/census:$SPARK_JARS/*" OptionsCensus \
//     "$SPARK_JARS/*:$TEST_JARS" main=src/main/scala test=src/test/scala \
//     bench=perfbench/src > census.tsv
//
// The first root (`main`) holds the definitions that are counted. Output:
// one tab-separated row per defaulted parameter (position, method,
// parameter, default, calls per root that set it, up to three of the
// argument texts), then a `#` summary on stderr: defaulted parameters,
// parameters no root sets, parameters only non-`main`/non-`bench` roots set.
import java.io.File

import scala.collection.mutable
import scala.tools.nsc.{Global, Settings}
import scala.tools.nsc.reporters.ConsoleReporter

object OptionsCensus {
  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  def main(args: Array[String]): Unit = {
    val classpath = args.head
    val roots = args.tail.toSeq.map { a =>
      val Array(name, dir) = a.split("=", 2)
      name -> new File(dir).getCanonicalPath
    }
    val files = roots.flatMap { case (_, d) => scalaFiles(new File(d)).map(_.getCanonicalPath) }
    val settings = new Settings(msg => sys.error(msg))
    settings.classpath.value = classpath
    settings.stopAfter.value = List("typer")
    settings.Yrangepos.value = true
    settings.nowarn.value = true
    val reporter = new ConsoleReporter(settings)
    val global = new Global(settings, reporter)
    val run = new global.Run
    run.compile(files.toList)
    if (reporter.hasErrors) sys.exit(2)
    import global._

    val units = run.units.toList
    def rootOf(u: CompilationUnit): String = {
      val p = new File(u.source.file.path).getCanonicalPath
      roots.collectFirst { case (n, d) if p.startsWith(d + File.separator) => n }.get
    }
    val mainRoot = roots.head._1

    // A parameter is keyed by (method, parameter list, index) so an override's
    // call counts for the parameter its base method declares.
    type Key = (Symbol, Int, Int)
    final case class Param(key: Key, where: String, owner: String, name: String, default: String)
    val params = mutable.LinkedHashMap[Key, Param]()
    val synthRhs = mutable.Map[Symbol, Tree]()
    def text(t: Tree): String =
      if (t.pos.isRange) new String(t.pos.source.content, t.pos.start, t.pos.end - t.pos.start) else t.toString

    for (u <- units) u.body.foreach {
      case vd: ValDef if vd.symbol != null && (vd.symbol.isSynthetic || vd.symbol.isArtifact) =>
        synthRhs(vd.symbol) = vd.rhs
      case dd: DefDef if rootOf(u) == mainRoot && !dd.symbol.isSynthetic && !dd.symbol.isConstructor =>
        // An override's `input: InternalRow` inherits its default (no rhs):
        // the option is the overridden method's, not the program's.
        for ((list, li) <- dd.vparamss.zipWithIndex; (vd, pi) <- list.zipWithIndex
             if vd.symbol.hasDefault && !vd.rhs.isEmpty) {
          val key = (dd.symbol, li, pi)
          val line = vd.pos.source.offsetToLine(vd.pos.point) + 1
          val where = s"${u.source.file.path}:$line"
          params(key) = Param(key, where, s"${dd.symbol.owner.name.decoded}.${dd.name.decoded}",
            vd.name.decoded, text(vd.rhs))
        }
      case _ =>
    }

    def funSym(t: Tree): Symbol = t match {
      case Apply(f, _) => funSym(f)
      case TypeApply(f, _) => funSym(f)
      case _ => t.symbol
    }
    def listIndex(fun: Tree): Int = fun match {
      case Apply(f, _) => 1 + listIndex(f)
      case TypeApply(f, _) => listIndex(f)
      case _ => 0
    }
    def isDefaultArg(t: Tree): Boolean = t match {
      case Typed(e, _) => isDefaultArg(e)
      case i: Ident if synthRhs.contains(i.symbol) => isDefaultArg(synthRhs(i.symbol))
      case _ =>
        val s = funSym(t)
        s != null && s != NoSymbol && s.name.decoded.contains("$default$")
    }

    val sets = mutable.Map[Key, mutable.Map[String, Int]]()
    val argTexts = mutable.Map[Key, mutable.LinkedHashSet[String]]()
    for (u <- units; root = rootOf(u)) u.body.foreach {
      case Apply(fun, args) =>
        val m = funSym(fun)
        if (m != null && m.isMethod) {
          val li = listIndex(fun)
          for (target <- m +: m.allOverriddenSymbols; (arg, pi) <- args.zipWithIndex) {
            val key = (target, li, pi)
            if (params.contains(key) && !isDefaultArg(arg)) {
              val byRoot = sets.getOrElseUpdate(key, mutable.Map().withDefaultValue(0))
              byRoot(root) += 1
              argTexts.getOrElseUpdate(key, mutable.LinkedHashSet()) += text(arg).replaceAll("\\s+", " ")
            }
          }
        }
      case _ =>
    }

    var unset, testOnly = 0
    for (p <- params.values) {
      val byRoot = sets.getOrElse(p.key, Map.empty[String, Int])
      if (byRoot.isEmpty) unset += 1
      else if (!byRoot.contains(mainRoot) && !byRoot.contains("bench")) testOnly += 1
      val counts = roots.map { case (n, _) => s"$n=${byRoot.getOrElse(n, 0)}" }.mkString(" ")
      val samples = argTexts.get(p.key).map(_.take(3).mkString(" | ")).getOrElse("")
      println(Seq(p.where, p.owner, p.name, p.default, counts, samples).mkString("\t"))
    }
    Console.err.println(s"# defaulted def parameters in $mainRoot: ${params.size}")
    Console.err.println(s"# set by no caller: $unset")
    Console.err.println(s"# set only by roots other than $mainRoot/bench: $testOnly")
  }
}

// Options census: which `def` parameters of the program does any caller set,
// and to how many values?
//
// Type-checks the given source roots with the Scala compiler (up to the
// typer phase, no class files) and walks every call. After the typer, named
// and positional arguments are resolved to parameters and an omitted
// argument is a call to the method's `$default$N` getter, so a parameter
// counts as set by a call exactly when its argument is anything else. Eta
// expansion and forwarding count as setting, recursion too.
//
// Every call also gives the parameter a value: the argument's text, or the
// default's text when the argument is omitted. A value is a literal when it
// is a constant or a collection of constants: `4`, `"ts"`, `-1.0`,
// `Long.MaxValue`, `Seq("a", "b")`, but not `col("id")` (constants compare
// by value, so `4` passed to a Long reads `4L`). A recursive call that
// passes the parameter itself adds no value.
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
// one tab-separated row per `def` parameter (position, method, parameter,
// default or `-`, calls per root that set it, calls per root, the value
// class, up to three of the value texts). The value class is `one-literal`
// (every call passes the same literal), `one-literal-no-main` (the same, but
// no `main` caller), `one-value` (one text that is not a literal), `many`,
// `no-call`, or `override` for a method that overrides another or is
// overridden (not all of its callers are in sight). Then a `#` summary on
// stderr: defaulted parameters, defaulted parameters no root sets,
// defaulted parameters only non-`main`/non-`bench` roots set, all
// parameters, and parameters with one literal value and a `main` caller.
// Then, also on stderr, the reachability table: one `# unreached` line
// per non-local `def` of `main` that no production root reaches (position,
// method, body lines, `test-only` if another root names it, else
// `no-test-ref`), and the counts of non-local defs and unreached ones.
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
    final case class Param(key: Key, where: String, owner: String, name: String,
                           default: Option[Tree], counted: Boolean)
    val params = mutable.LinkedHashMap[Key, Param]()
    val paramOf = mutable.Map[Symbol, Key]()
    val synthRhs = mutable.Map[Symbol, Tree]()
    val overridden = mutable.Set[Symbol]()
    def text(t: Tree): String =
      if (t.pos.isRange) new String(t.pos.source.content, t.pos.start, t.pos.end - t.pos.start) else t.toString

    for (u <- units) u.body.foreach {
      case vd: ValDef if vd.symbol != null && (vd.symbol.isSynthetic || vd.symbol.isArtifact) =>
        synthRhs(vd.symbol) = vd.rhs
      case dd: DefDef if dd.symbol != null =>
        overridden ++= dd.symbol.allOverriddenSymbols
        if (rootOf(u) == mainRoot && !dd.symbol.isSynthetic && !dd.symbol.isConstructor) {
          for ((list, li) <- dd.vparamss.zipWithIndex; (vd, pi) <- list.zipWithIndex) {
            val key = (dd.symbol, li, pi)
            val line = vd.pos.source.offsetToLine(vd.pos.point) + 1
            val where = s"${u.source.file.path}:$line"
            // An override's `input: InternalRow` inherits its default (no rhs):
            // the option is the overridden method's, not the program's.
            val default = if (vd.symbol.hasDefault && !vd.rhs.isEmpty) Some(vd.rhs) else None
            params(key) = Param(key, where, s"${dd.symbol.owner.name.decoded}.${dd.name.decoded}",
              vd.name.decoded, default, dd.symbol.allOverriddenSymbols.isEmpty)
            paramOf(vd.symbol) = key
          }
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
    def resolve(t: Tree): Tree = t match {
      case Typed(e, _) => resolve(e)
      case i: Ident if synthRhs.contains(i.symbol) => resolve(synthRhs(i.symbol))
      case _ => t
    }
    def isDefaultArg(t: Tree): Boolean = {
      val s = funSym(resolve(t))
      s != null && s != NoSymbol && s.name.decoded.contains("$default$")
    }
    // A constant, or a collection of constants.
    def isLiteral(t: Tree): Boolean = resolve(t) match {
      case _: Literal => true
      case a @ Apply(_, args) if a.tpe != null &&
          (a.tpe.typeSymbol.isNonBottomSubClass(definitions.IterableClass) ||
           a.tpe.typeSymbol == definitions.ArrayClass) => args.forall(isLiteral)
      case _ => false
    }
    def valueText(t: Tree): String = resolve(t) match {
      case Literal(c) => c.escapedStringValue
      case r => text(r).replaceAll("\\s+", " ")
    }

    val sets = mutable.Map[Key, mutable.Map[String, Int]]()
    val calls = mutable.Map[Key, mutable.Map[String, Int]]()
    val values = mutable.Map[Key, mutable.LinkedHashMap[String, Boolean]]()
    for (u <- units; root = rootOf(u)) u.body.foreach {
      case Apply(fun, args) =>
        val m = funSym(fun)
        if (m != null && m.isMethod) {
          val li = listIndex(fun)
          for (target <- m +: m.allOverriddenSymbols; (arg, pi) <- args.zipWithIndex) {
            val key = (target, li, pi)
            params.get(key).foreach { p =>
              calls.getOrElseUpdate(key, mutable.Map().withDefaultValue(0))(root) += 1
              val default = isDefaultArg(arg)
              if (!default) {
                sets.getOrElseUpdate(key, mutable.Map().withDefaultValue(0))(root) += 1
              }
              val self = resolve(arg) match {
                case i: Ident => paramOf.get(i.symbol).contains(key)
                case _ => false
              }
              if (!self) {
                val v = if (default) p.default.get else arg
                values.getOrElseUpdate(key, mutable.LinkedHashMap()) += valueText(v) -> isLiteral(v)
              }
            }
          }
        }
      case _ =>
    }

    var unset, testOnly, oneLiteral = 0
    for (p <- params.values) {
      val setBy = sets.getOrElse(p.key, Map.empty[String, Int])
      val calledBy = calls.getOrElse(p.key, Map.empty[String, Int])
      val vs = values.getOrElse(p.key, Map.empty[String, Boolean])
      if (p.default.nonEmpty) {
        if (setBy.isEmpty) unset += 1
        else if (!setBy.contains(mainRoot) && !setBy.contains("bench")) testOnly += 1
      }
      val cls =
        if (!p.counted || overridden.contains(p.key._1)) "override"
        else if (vs.isEmpty) "no-call"
        else if (vs.size > 1) "many"
        else if (!vs.head._2) "one-value"
        else if (calledBy.contains(mainRoot)) { oneLiteral += 1; "one-literal" }
        else "one-literal-no-main"
      def perRoot(m: collection.Map[String, Int]) = roots.map { case (n, _) => s"$n=${m.getOrElse(n, 0)}" }.mkString(" ")
      val default = p.default.map(d => text(d)).getOrElse("-")
      println(Seq(p.where, p.owner, p.name, default, perRoot(setBy), perRoot(calledBy), cls,
        vs.keys.take(3).mkString(" | ")).mkString("\t"))
    }
    Console.err.println(s"# defaulted def parameters in $mainRoot: ${params.values.count(_.default.nonEmpty)}")
    Console.err.println(s"# set by no caller: $unset")
    Console.err.println(s"# set only by roots other than $mainRoot/bench: $testOnly")
    Console.err.println(s"# def parameters in $mainRoot: ${params.size}")
    Console.err.println(s"# one literal value in use, with a $mainRoot caller: $oneLiteral")

    // Reachability. A node is a definition of `main` that no method
    // encloses: a def, a val, a class or an object. A node's code reaches
    // every node it names (its type trees too), a member reaches its owner,
    // and a reached class or object reaches its constructors, its fields'
    // initializers, its body's statements and its overriding methods (a
    // call may dispatch to them). Roots are the `main` methods of objects,
    // every node `bench` names, and what generated code names in a `main`
    // string literal: a def whose `.name(` or a class whose full name
    // appears there (`$helper.invalidRow()`, "graft.functions.X").
    def nonLocal(s: Symbol): Boolean =
      s.ownerChain.drop(1).takeWhile(o => !o.isPackageClass).forall(_.isClass)
    val nodes = mutable.LinkedHashMap[Symbol, (MemberDef, CompilationUnit)]()
    def key(s: Symbol): Symbol =
      if (s.isModule) s.moduleClass
      else if (s.isAccessor && s.accessed != NoSymbol) s.accessed
      else s
    for (u <- units if rootOf(u) == mainRoot) u.body.foreach {
      case md: MemberDef if md.symbol != null && md.symbol != NoSymbol && nonLocal(md.symbol) &&
          (md.isInstanceOf[DefDef] || md.isInstanceOf[ValDef] || md.isInstanceOf[ImplDef]) =>
        nodes.getOrElseUpdate(key(md.symbol), (md, u))
      case _ =>
    }
    def nodeOf(s: Symbol): Symbol = {
      var x = key(s)
      while (x != NoSymbol && !x.isPackageClass && !nodes.contains(x)) x = key(x.owner)
      if (nodes.contains(x)) x else NoSymbol
    }
    val edges = mutable.Map[Symbol, mutable.Set[Symbol]]()
    def edge(from: Symbol, to: Symbol): Unit =
      if (from != NoSymbol && to != NoSymbol && from != to) edges.getOrElseUpdate(from, mutable.Set()) += to
    val starts = mutable.Set[Symbol]()
    val testRefs = mutable.Set[Symbol]()
    val literalNames = mutable.Set[String]()
    val literalClasses = mutable.Set[String]()
    for ((n, (md, _)) <- nodes) {
      val owner = nodeOf(n.owner)
      edge(n, owner)
      md match {
        case dd: DefDef if dd.symbol.isConstructor || dd.symbol.allOverriddenSymbols.nonEmpty => edge(owner, n)
        case vd: ValDef if !vd.symbol.isLazy => edge(owner, n)
        case dd: DefDef if dd.name.decoded == "main" && dd.symbol.owner.isModuleClass => starts += n
        case _ =>
      }
    }
    for (u <- units; root = rootOf(u)) {
      def refer(from: Symbol, s: Symbol): Unit = {
        val n = nodeOf(s)
        if (n != NoSymbol) {
          if (root == mainRoot) edge(from, n)
          else if (root == "bench") starts += n
          else testRefs += n
        }
      }
      def walk(t: Tree, from: Symbol): Unit = {
        val here = t match {
          case md: MemberDef if root == mainRoot && nodes.contains(key(md.symbol)) &&
              (nodes(key(md.symbol))._1 eq md) => key(md.symbol)
          case _ => from
        }
        t match {
          case _: MemberDef =>
          case tt: TypeTree if tt.tpe != null => tt.tpe.foreach(tp => refer(here, tp.typeSymbol))
          case Literal(Constant(s: String)) if root == mainRoot =>
            literalNames ++= """\.([A-Za-z_][A-Za-z0-9_]*)\(""".r.findAllMatchIn(s).map(_.group(1))
            literalClasses += s
          case _ => if (t.symbol != null && t.symbol != NoSymbol) refer(here, t.symbol)
        }
        t.children.foreach(walk(_, here))
      }
      walk(u.body, NoSymbol)
    }
    for ((n, (md, _)) <- nodes) md match {
      case dd: DefDef if literalNames(dd.name.decoded) => starts += n
      case _: ImplDef if literalClasses(n.fullName) => starts += n
      case _ =>
    }
    val reached = mutable.Set[Symbol]()
    var frontier = starts.toList
    while (frontier.nonEmpty) {
      frontier = frontier.filter(reached.add)
      frontier = frontier.flatMap(n => edges.getOrElse(n, Nil))
    }
    val defs = nodes.toSeq.collect {
      case (n, (dd: DefDef, u)) if !n.isSynthetic && !n.isAccessor && !n.isConstructor &&
          !n.name.decoded.contains("$default$") => (n, dd, u)
    }
    val unreached = defs.filterNot { case (n, _, _) => reached(n) }
    def lines(t: Tree): Int =
      t.pos.source.offsetToLine(t.pos.end) - t.pos.source.offsetToLine(t.pos.start) + 1
    for ((n, dd, u) <- unreached) {
      val line = dd.pos.source.offsetToLine(dd.pos.point) + 1
      Console.err.println(Seq(s"# unreached", s"${u.source.file.path}:$line",
        s"${n.owner.name.decoded}.${dd.name.decoded}", lines(dd),
        if (testRefs(n)) "test-only" else "no-test-ref").mkString("\t"))
    }
    Console.err.println(s"# non-local defs in $mainRoot: ${defs.size}")
    Console.err.println(s"# reached by no root: ${unreached.size} " +
      s"(${unreached.map(d => lines(d._2)).sum} lines)")
  }
}

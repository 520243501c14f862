package perfbench

/** Defines the classes `childFirst` selects afresh from the class files
  * on the classpath and hands every other class (Spark, Scala) to the
  * benchmark's own loader. Classes `deny` selects do not load at all.
  */
final class FreshLoader(childFirst: String => Boolean = _.startsWith("graft."),
                        deny: String => Boolean = _ => false)
  extends ClassLoader(classOf[FreshLoader].getClassLoader) {

  override protected def loadClass(name: String, resolve: Boolean): Class[_] =
    getClassLoadingLock(name).synchronized {
      if (deny(name)) throw new ClassNotFoundException(s"$name may not be loaded here")
      val done = findLoadedClass(name)
      if (done != null) done
      else if (!childFirst(name)) super.loadClass(name, resolve)
      else Option(getParent.getResourceAsStream(name.replace('.', '/') + ".class")) match {
        case Some(in) =>
          val b = try in.readAllBytes() finally in.close()
          defineClass(name, b, 0, b.length)
        case None => super.loadClass(name, resolve)
      }
    }

  /** `module.method()` on this loader's copy of a Scala object. */
  def callObject(module: String, method: String, args: AnyRef*): AnyRef = {
    val c = loadClass(module + "$")
    val m = c.getMethods.find(m => m.getName == method && m.getParameterCount == args.length)
      .getOrElse(throw new NoSuchMethodException(s"$module.$method/${args.length}"))
    m.invoke(c.getField("MODULE$").get(null), args: _*)
  }
}

object FreshLoader {

  /** `CorpusPipeline.defaultModels` from fresh copies of the engine's
    * classes: the lazy model bundle trains again, as in a new JVM.
    */
  def defaultModels(): AnyRef =
    new FreshLoader().callObject("graft.pipeline.CorpusPipeline", "defaultModels")
}

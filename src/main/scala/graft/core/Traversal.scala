package graft.core

/** Tree queries: walk / walkElements / findById / findAllByTagName /
  * findAllByAttr / textContent / outline / chunk
  * (reference: src/public/mod.ts:1669-1795, 2179-2233).
  */
object Traversal {

  /** Pre-order iteration with depth, matching the reference's walk order.
    * An explicit stack, so neither its stack use nor the cost of a step
    * grows with the tree's depth: `levels(d)` is the sibling list being
    * walked at depth `d` and `nexts(d)` the index of its next node.
    */
  def iterate(children: Vector[HtmlNode]): Iterator[(HtmlNode, Int)] =
    new scala.collection.AbstractIterator[(HtmlNode, Int)] {
      private var levels = new Array[Vector[HtmlNode]](8)
      private var nexts = new Array[Int](8)
      private var top = 0
      levels(0) = children

      def hasNext: Boolean = {
        while (top >= 0 && nexts(top) >= levels(top).length) {
          levels(top) = null
          top -= 1
        }
        top >= 0
      }

      def next(): (HtmlNode, Int) = {
        if (!hasNext) throw new NoSuchElementException("next on an exhausted walk")
        val depth = top
        val node = levels(top)(nexts(top))
        nexts(top) += 1
        node match {
          case e: ElementNode if e.children.nonEmpty =>
            top += 1
            if (top == levels.length) {
              levels = java.util.Arrays.copyOf(levels, 2 * top)
              nexts = java.util.Arrays.copyOf(nexts, 2 * top)
            }
            levels(top) = e.children
            nexts(top) = 0
          case _ =>
        }
        (node, depth)
      }
    }

  def walk(tree: DocumentTree)(visitor: (HtmlNode, Int) => Unit): Unit =
    iterate(tree.children).foreach { case (n, d) => visitor(n, d) }

  def walk(tree: FragmentTree)(visitor: (HtmlNode, Int) => Unit): Unit =
    iterate(tree.children).foreach { case (n, d) => visitor(n, d) }

  def walkElements(tree: DocumentTree)(visitor: (ElementNode, Int) => Unit): Unit =
    iterate(tree.children).foreach {
      case (e: ElementNode, d) => visitor(e, d)
      case _                   =>
    }

  def findById(children: Vector[HtmlNode], id: Int): Option[HtmlNode] =
    iterate(children).collectFirst { case (n, _) if n.id == id => n }

  def findAllByTagName(children: Vector[HtmlNode], tagName: String): Iterator[ElementNode] = {
    val normalized = tagName.toLowerCase
    iterate(children).collect {
      case (e: ElementNode, _) if e.tagName.toLowerCase == normalized => e
    }
  }

  /** Attribute-name match is case-SENSITIVE here, mirroring the reference
    * (mod.ts:1749-1750).
    */
  def findAllByAttr(
      children: Vector[HtmlNode],
      name: String,
      value: Option[String] = None
  ): Iterator[ElementNode] =
    iterate(children).collect {
      case (e: ElementNode, _)
          if e.attributes.exists(a =>
            a.name == name && value.forall(_ == a.value)) => e
    }

  def textContent(node: HtmlNode): String = node match {
    case t: TextNode    => t.value
    case e: ElementNode => textContent(e.children)
    case _              => ""
  }

  /** The text nodes' values under `children`, in document order. */
  def textContent(children: Vector[HtmlNode]): String = {
    val sb = new java.lang.StringBuilder
    iterate(children).foreach {
      case (t: TextNode, _) => sb.append(t.value)
      case _                =>
    }
    sb.toString
  }

  // ------------------------------------------------------------------
  def outline(children: Vector[HtmlNode]): Outline = {
    val entries = Vector.newBuilder[OutlineEntry]
    iterate(children).foreach {
      case (e: ElementNode, depth) =>
        val normalized = e.tagName.toLowerCase
        if (normalized.matches("^h[1-6]$") || normalized == "section" ||
          normalized == "article") {
          entries += OutlineEntry(e.id, depth, e.tagName, textContent(e).take(200))
        }
      case _ =>
    }
    Outline(entries.result())
  }

  private def countNodes(node: HtmlNode): Int = iterate(Vector(node)).size

  /** Greedy packing of top-level siblings under maxChars/maxNodes/maxBytes
    * caps (reference: mod.ts:2179-2233). Bytes are UTF-8 lengths.
    */
  def chunk(children: Vector[HtmlNode], options: ChunkOptions = ChunkOptions()): Vector[Chunk] = {
    val chunks = Vector.newBuilder[Chunk]
    var activeContent = new java.lang.StringBuilder
    var activeNodes = 0
    var activeBytes = 0L
    var activeNodeId = -1
    var index = 0

    def flush(): Unit = {
      if (activeNodeId < 0) return
      chunks += Chunk(index, activeNodeId, activeContent.toString, activeNodes)
      index += 1
      activeContent = new java.lang.StringBuilder
      activeNodes = 0
      activeBytes = 0L
      activeNodeId = -1
    }

    children.foreach { node =>
      val content = Serializer.serialize(node)
      val nodes = countNodes(node)
      val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      val nextChars = activeContent.length + content.length
      val nextNodes = activeNodes + nodes
      val nextBytes = activeBytes + bytes
      if (activeNodeId >= 0 &&
        (nextChars > options.maxChars || nextNodes > options.maxNodes ||
          nextBytes > options.maxBytes)) flush()
      if (activeNodeId < 0) activeNodeId = node.id
      activeContent.append(content)
      activeNodes += nodes
      activeBytes += bytes
    }
    flush()
    chunks.result()
  }
}

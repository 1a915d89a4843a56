package graft.core

/** Chunked-bytes ingestion: the reference's `parseStream` / `tokenizeStream`
  * surface (reference: src/public/mod.ts:774-936). Semantics preserved:
  *
  *  - buffer until 16 KiB (STREAM_ENCODING_PRESCAN_BYTES, mod.ts:103) or
  *    end-of-stream, then sniff the encoding once (BOM > transport label >
  *    meta prescan > windows-1252 default);
  *  - decode the head and the remaining chunks incrementally with
  *    [[EncodingSniff.HtmlByteDecoder]], the decoder `parseBytes` uses for a
  *    whole buffer (multi-byte sequences may straddle chunk boundaries);
  *  - budget checks per chunk: maxInputBytes against total bytes read;
  *    maxBufferedBytes pre-sniff against the accumulating head buffer and
  *    post-sniff against each individual chunk's byte length (the decoder
  *    emits text incrementally, so only one chunk is ever buffered at a
  *    time — matching mod.ts:826,845 exactly); maxTimeMs wall clock
  *    (mod.ts:819-845);
  *  - then run the ordinary parse/tokenize over the decoded text — the
  *    reference also decodes fully before tokenizing (mod.ts:886-896), so
  *    no incremental tokenizer state machine is required for parity.
  */
object Streaming {

  private val PrescanBytes = 16 * 1024

  final case class DecodedStream(text: String, sniff: EncodingSniff.SniffResult,
                                 bytesIn: Long, maxBufferedObserved: Long = 0L)

  /** Decode a chunked byte stream to text with sniffing + budgets. */
  def decodeStreamToText(
      chunks: Iterator[Array[Byte]],
      transportEncodingLabel: Option[String] = None,
      budgets: Option[Budgets] = None
  ): DecodedStream = {
    val startedAt = System.currentTimeMillis()
    val maxInputBytes = budgets.flatMap(_.maxInputBytes).map(_.toLong)
    val maxBufferedBytes = budgets.flatMap(_.maxBufferedBytes).map(_.toLong)
    val maxTimeMs = budgets.flatMap(_.maxTimeMs)
    def checkTime(): Unit = BudgetExceededException.check("maxTimeMs", maxTimeMs,
      System.currentTimeMillis() - startedAt)

    // phase 1: buffer up to the prescan waterline
    val head = new java.io.ByteArrayOutputStream(PrescanBytes)
    var bytesIn = 0L
    while (chunks.hasNext && head.size < PrescanBytes) {
      val chunk = chunks.next()
      bytesIn += chunk.length
      BudgetExceededException.check("maxInputBytes", maxInputBytes, bytesIn)
      BudgetExceededException.check("maxBufferedBytes", maxBufferedBytes,
        head.size.toLong + chunk.length)
      head.write(chunk, 0, chunk.length)
      checkTime()
    }

    // phase 2: sniff the head, then decode it and the remaining chunks
    // incrementally through the same decoder as the whole-buffer path
    val headBytes = head.toByteArray
    val decoder = new EncodingSniff.HtmlByteDecoder(headBytes, transportEncodingLabel)
    decoder.feed(headBytes, last = !chunks.hasNext)
    checkTime()
    var maxBuffered = headBytes.length.toLong
    while (chunks.hasNext) {
      val chunk = chunks.next()
      bytesIn += chunk.length
      BudgetExceededException.check("maxInputBytes", maxInputBytes, bytesIn)
      // post-sniff the reference bounds only the single in-flight chunk
      // (mod.ts:845), not the cumulative decoded text
      BudgetExceededException.check("maxBufferedBytes", maxBufferedBytes, chunk.length.toLong)
      if (chunk.length.toLong > maxBuffered) maxBuffered = chunk.length.toLong
      decoder.feed(chunk, last = !chunks.hasNext)
      checkTime()
    }
    DecodedStream(decoder.text, decoder.sniff, bytesIn, maxBuffered)
  }

  /** Chunked bytes → DocumentTree (reference parseStream, mod.ts:902-936).
    * Under trace, decode(sniff) + stream + maxBufferedBytes budget events
    * are appended after the parse events (mod.ts:912-930).
    */
  def parseStream(
      chunks: Iterator[Array[Byte]],
      options: ParseOptions = ParseOptions(),
      transportEncodingLabel: Option[String] = None
  ): DocumentTree = {
    val decoded = decodeStreamToText(chunks, transportEncodingLabel, options.budgets)
    HtmlParser.parseDecoded(decoded.text, decoded.sniff, options) { buf =>
      buf.push(seq => TraceStreamEvent(seq, decoded.bytesIn))
      buf.pushBudget("maxBufferedBytes",
        options.budgets.flatMap(_.maxBufferedBytes).map(_.toLong),
        decoded.maxBufferedObserved)
    }
  }

  /** Chunked bytes → token iterator (reference tokenizeStream, mod.ts:886-896:
    * decode whole stream, then tokenize once).
    */
  def tokenizeStream(
      chunks: Iterator[Array[Byte]],
      opts: TokenizeOpts = TokenizeOpts(),
      transportEncodingLabel: Option[String] = None,
      budgets: Option[Budgets] = None
  ): Iterator[HtmlToken] = {
    val decoded = decodeStreamToText(chunks, transportEncodingLabel, budgets)
    TokenizeApi.tokenize(decoded.text, opts).tokens.iterator
  }
}

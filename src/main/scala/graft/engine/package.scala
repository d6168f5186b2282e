package graft

package object engine {

  /** The text index hybrid search composes over: the one BM25 index,
    * [[SegmentedTextIndex]], under the name callers typed it by. */
  type Bm25Queryable = SegmentedTextIndex
}

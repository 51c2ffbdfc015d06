"""Output check against the in-memory reference engine.

Each checked query's top-k must match ``bm25_spark.oracle.OracleBM25`` rank
for rank with scores within 1e-9. Documents whose scores tie within that
tolerance may trade places (both engines break exact ties by doc_id, but
float summation order can differ in the last bits), so a returned document
only has to carry the oracle's score for that document.
"""

from __future__ import annotations

from bm25_spark.oracle import OracleBM25

TOL = 1e-9


class Checker:
    def __init__(self, corpus, meta_fields: tuple[str, ...]):
        docs = [
            (text, {f: v for f in meta_fields if (v := row[f]) is not None})
            for text, row in zip(
                corpus["text"], corpus[list(meta_fields)].to_dict("records")
            )
        ]
        self.oracle = OracleBM25(docs, index_fields=list(meta_fields))

    def mismatch(self, query: str, limit: int, flt, got) -> str | None:
        """None when ``got`` — [(doc_id, score), ...] in rank order — is the
        query's correct top-``limit``; else a one-line reason."""
        ranked = self.oracle.search(query, limit=len(self.oracle.docs), flt=flt)
        want = ranked[:limit]
        if len(got) != len(want):
            return f"{query!r}: {len(got)} results, oracle has {len(want)}"
        full = dict(ranked)
        seen = set()
        for rank, ((doc, score), (_, want_score)) in enumerate(zip(got, want)):
            if doc in seen:
                return f"{query!r}: doc {doc} returned twice"
            seen.add(doc)
            if abs(score - want_score) > TOL:
                return (f"{query!r}: rank {rank + 1} score {score!r}, "
                        f"oracle {want_score!r}")
            if doc not in full or abs(full[doc] - score) > TOL:
                return (f"{query!r}: rank {rank + 1} doc {doc} scored "
                        f"{score!r}, oracle {full.get(doc)!r}")
        return None

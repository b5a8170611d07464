"""Session- and source-stamped DataFrame memos.

Several plan builders persist() a shared intermediate frame (the
near-dup connected-components assignment, the DSIR weight table, the
LSH shingle/banded/candidate chain) and memoize it so multiple catalog
consumers in one certification or bench round pay the build once.
Round 7's review (ADVICE r7 #2) flagged the two failure modes of the
historic ad-hoc ``dict[(app_id, sf_dir)]`` caches:

- **stale source**: regenerating the source parquet mid-session kept
  serving frames derived from the previous file generation (the
  on-disk index tags already guard this with an ``m{mtime_ns}-s{size}``
  key; the in-memory memos did not), and a stamp in the key alone
  would still keep the old generation's persisted frame for the
  session;
- **dead-session leak**: in a long-lived process cycling many
  SparkSessions, entries for stopped sessions were never evicted, so
  their persisted plans and the sessions they pin accumulated forever.

``FrameMemo`` + ``source_stamp`` fix both in one place: keys end with
the source file fingerprint, a miss under a new fingerprint unpersists
the generation it supersedes, and every access first evicts (and
best-effort unpersists) entries whose owning session has stopped.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from datapipelinedemo_spark.session import session_key


def source_stamp(path: str) -> tuple:
    """Change-detecting fingerprint of a parquet source.

    Handles BOTH layouts a source can take (ADVICE r7 #1): a single
    ``.parquet`` file (the testdata shape) → ``(mtime_ns, size)``;
    a directory-style multi-part dataset → newest part mtime, total
    byte size, and part count over the non-hidden entries (``_SUCCESS``
    and dotfiles excluded, matching what a parquet reader would scan).
    """
    if os.path.isdir(path):
        newest, total, count = 0, 0, 0
        for name in os.listdir(path):
            if name.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(path, name))
            newest = max(newest, st.st_mtime_ns)
            total += st.st_size
            count += 1
        return ("dir", newest, total, count)
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size)


def table_stamp(sf_dir: str, table: str) -> tuple:
    """``source_stamp`` of ``<sf_dir>/<table>.parquet``."""
    return source_stamp(os.path.join(sf_dir, f"{table}.parquet"))


def _stopped(spark: SparkSession) -> bool:
    try:
        return spark.sparkContext._jsc is None
    except Exception:
        return True


# Every FrameMemo registers here so plan-auditing harnesses can reset
# memo state wholesale (clear_all_memos below): a frame persist()-ed
# while a session conf override is active (e.g. the broadcast gate's
# autoBroadcastJoinThreshold=-1 sweep) BAKES that conf into its cached
# physical plan — InMemoryRelation compiles once at registration — and
# keeps serving the override-shaped plan (sort-merge joins) to every
# later consumer after the conf is restored.
_ALL_MEMOS: list["FrameMemo"] = []


def clear_all_memos() -> int:
    """Unpersist and evict every entry of every FrameMemo; returns the
    number of entries dropped. For test/audit harnesses that build
    plans under temporary session-conf overrides."""
    n = 0
    for memo in _ALL_MEMOS:
        n += memo.clear()
    return n


class FrameMemo:
    """Persisted-DataFrame cache keyed on (session, *caller key).

    ``build()`` is expected to return an already-``persist()``-ed
    frame (or one served from a disk index, where persist is moot).

    The LAST element of ``key`` must be the ``source_stamp`` (or
    ``table_stamp``) of the files the frame derives from: on a miss,
    the session's entries whose key differs only in that last element
    are superseded generations of the same frame, and are unpersisted
    and dropped.
    """

    def __init__(self) -> None:
        # key -> (session, frame)
        self._entries: dict[tuple, tuple[SparkSession, DataFrame]] = {}
        _ALL_MEMOS.append(self)

    def clear(self) -> int:
        """Unpersist + drop every entry; returns the count dropped."""
        n = len(self._entries)
        for entry in self._entries.values():
            try:
                entry[1].unpersist()
            except Exception:
                pass
        self._entries.clear()
        return n

    def get_or_build(
        self,
        spark: SparkSession,
        key: tuple,
        build: Callable[[], DataFrame],
    ) -> DataFrame:
        self._evict_dead()
        full = (session_key(spark), *key)
        hit = self._entries.get(full)
        if hit is not None:
            # NOTE (r16, measured): do NOT re-persist() a hit whose
            # cache was externally cleared. It looks like a free win
            # (the bench's standalone clearCache strips the persist
            # marker, so memo consumers re-derive lineage per branch),
            # but a freshly re-registered, not-yet-materialized
            # InMemoryRelation that appears N times in one AQE plan
            # materializes N CONCURRENT TableCacheQueryStages — each
            # computing the full child plan, nested multiplicatively
            # when memo frames reference each other (tokenized_documents
            # under _ccnet_doc_nll). Measured at sf0.1:
            # ccnet_buckets_by_threshold 3.5 s uncached → 15-38 s
            # re-pinned; training_corpus_pipeline_v3 5.5 s → 19-40 s.
            # Uncached branch recompute is the cheaper failure mode.
            return hit[1]
        for k in [k for k in self._entries if k[:-1] == full[:-1]]:
            self._drop(k)
        frame = build()
        self._entries[full] = (spark, frame)
        return frame

    def _evict_dead(self) -> None:
        for k in [k for k, e in self._entries.items() if _stopped(e[0])]:
            self._drop(k)

    def _drop(self, k: tuple) -> None:
        try:
            self._entries.pop(k)[1].unpersist()
        except Exception:
            pass  # session already gone — the leak is the JVM's to drop

    def __len__(self) -> int:  # introspection for tests
        return len(self._entries)

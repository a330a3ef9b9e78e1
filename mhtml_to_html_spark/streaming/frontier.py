"""Streaming frontier: the crawl without round barriers.

At 10^10 URLs the crawl is naturally a stream — discovered URLs arrive
continuously, and a fetch should not wait for a global round to close.
This module is the Structured-Streaming shape of
``frontier/spark_frontier.py``:

- **politeness + exactly-once as a custom stateful operator**:
  ``applyInPandasWithState`` keyed by host; the state carries the
  host's exact seen-hash set and admission counters, so each canonical
  URL is fetched at most once for all time and each host admits at
  most ``host_budget`` fetches per micro-batch (the token-bucket
  refill interval). Overflow is emitted as ``status='deferred'`` for
  the feeder to re-queue — the same defer-to-next-wave semantics as
  the batch crawl's round loop. Each admitted URL goes through the
  batch crawl's own fetch kernel (``spark_frontier.fetch_url``), so
  both shapes fetch, decode and discover identically.
- **the discovery loop is the outer system**: Structured Streaming
  queries are acyclic by design, so children feed back through the
  source (a Kafka topic / Delta table in production; appended files in
  tests + Trigger.AvailableNow), exactly how a production continuous
  crawler closes the loop. State persists across query restarts via
  the checkpoint, which is what makes the feeder loop correct.

Scale notes: state is per-host (hash-partitioned by the groupBy), one
state row per host — 10^7 hosts spread over executors, each holding
its own seen hashes; the global exact seen table still exists
downstream (the sink), the state is the admission gate. Per-host page
counts bound the state row; hosts with very deep crawls GRADUATE to a
per-host counting-Bloom (:class:`HostSeen`, opt-in via
``graduate_after``) whose state row is bounded forever — no false
negatives, documented false-positive contract.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame

from ..frontier.spark_frontier import _CANON_SCHEMA, _canonicalize_batches

GATE_SCHEMA = (
    "key string, url string, host string, depth int, disc_seq long, "
    "status string, attempts int, delay_ms long"
)
_GATE_STATE_SCHEMA = (
    "seen array<long>, fetched_total long, bloom binary, revisit array<long>"
)


class HostSeen:
    """Per-host seen set with Bloom graduation for very deep hosts.

    Exact int64 set up to ``graduate_after`` keys; past that the host
    GRADUATES: the exact set folds into a per-host counting-Bloom
    (bounded ``bloom_bits`` bytes forever, vs an exact array that grows
    with the host's page count — the state-row killer at 10^8-page
    hosts). Graduation is opt-in (``graduate_after=None`` keeps exact
    semantics) because it trades exactness for bounded state: a Bloom
    has NO false negatives (nothing is ever fetched twice) but a
    bounded false-positive rate (a never-seen URL can be skipped as
    seen, ~(1-e^(-kn/m))^k). That is the standard large-crawler
    contract (bloom-gated frontiers); the byte-for-byte-vs-oracle
    configurations keep the default."""

    def __init__(
        self,
        exact=None,
        bloom_blob=None,
        graduate_after=None,
        bloom_bits=1 << 17,
        pending=None,
    ):
        from ..frontier.seenset import CountingBloom

        self.exact = set(exact or ())
        self.bloom = CountingBloom.from_bytes(bytes(bloom_blob)) if bloom_blob else None
        self.graduate_after = graduate_after
        self.bloom_bits = bloom_bits
        # revisit keys awaiting refetch in GRADUATED mode: an exact
        # side-set (bounded by revisit manifests in flight) so removal
        # never touches Bloom counters shared with other keys
        self.pending = set(pending or ())

    def __contains__(self, h64: int) -> bool:
        if h64 in self.pending:
            return False  # a revisit key reads unseen until refetched
        if self.bloom is not None and self.bloom.might_contain(h64):
            return True
        return h64 in self.exact

    def add(self, h64: int) -> None:
        was_pending = h64 in self.pending
        self.pending.discard(h64)
        if self.bloom is not None:
            # a pending revisit key is still counted in the Bloom (its
            # removal never decremented) — re-adding would double-count
            if not was_pending:
                self.bloom.add(h64)
            return
        self.exact.add(h64)
        if self.graduate_after is not None and len(self.exact) >= self.graduate_after:
            from ..frontier.seenset import CountingBloom

            self.bloom = CountingBloom(self.bloom_bits)
            for v in self.exact:
                self.bloom.add(v)
            self.exact = set()

    def remove(self, h64: int) -> None:
        """Forget a key (the streaming side of recrawl): exact set
        discard, or counting-Bloom decrement past graduation — the
        same no-false-negative-for-survivors contract as the batch
        crawl's sharded filter deletion.

        Graduated mode NEVER decrements the Bloom: the counters are
        shared, and an at-least-once feeder can deliver a revisit for
        a key that was never fetched — an unchecked decrement would
        drain cells belonging to genuinely seen keys (a false negative
        for a survivor, the one contract violation this structure must
        not have). Instead the key joins the exact ``pending`` set,
        which the membership check consults first, so the unchanged
        admission loop re-admits exactly the requested keys."""
        if self.bloom is not None:
            if self.bloom.might_contain(h64):
                self.pending.add(h64)
            return
        self.exact.discard(h64)

    def state_tuple(self, fetched_total: int) -> tuple:
        return (
            _encode_seen(self.exact),
            fetched_total,
            self.bloom.to_bytes() if self.bloom is not None else None,
            _encode_seen(self.pending),
        )


def _decode_seen(seen_list) -> set:
    """State stores signed int64 (Spark LongType); probe unsigned —
    without this mask, every hash >= 2^63 is refetched after a restart
    (caught by live-driving the gate, not by the oracle test whose
    fixture hashes happened to collide low)."""
    return {v & 0xFFFFFFFFFFFFFFFF for v in seen_list}


def _encode_seen(seen: set) -> list:
    return sorted(v - (1 << 64) if v >= 1 << 63 else v for v in seen)


def _admit_host_batch(
    host: str, batch, seen: set, host_budget: int, use_robots: bool,
    fetcher: str = "double",
    discover: str = "scripted",
    decode_payload: bool = False,
    payload_images: int = 2,
    payload_scale: int = 1,
    emit_children: tuple[int, int] | None = None,
):
    """The per-host admission kernel of the politeness gate: sort the
    micro-batch by the crawl priority (depth, host_rank, disc_seq),
    dedup first-discovery-wins against the batch and the host's
    all-time seen set (mutated in place), fetch up to the host's token
    budget through the batch crawl's own :func:`fetch_url` kernel,
    defer the rest. Returns (rows, admitted).

    Rows carry ``children`` when ``discover="parse"`` (links parsed
    from the fetched bytes) or ``emit_children=(fanout, n_hosts)``
    (the scripted world's children, whatever the fetcher).

    With ``use_robots`` the host's robots rules gate admission:
    disallowed URLs emit ``status='blocked'`` once and join the seen
    set; the crawl-delay level scales the per-micro-batch token
    refill, the same token-bucket rule as the batch crawl."""
    from ..frontier.fixtures import host_token_budget, robots_allows
    from ..frontier.seenset import url_hash64
    from ..frontier.spark_frontier import fetch_url

    with_children = discover == "parse" or emit_children is not None
    kernel_discover = discover if with_children else None
    fanout, n_hosts = emit_children or (0, 0)

    budget = host_token_budget(host, host_budget) if use_robots else host_budget
    # revisit rows (recrawl manifests) FORGET their key first, so the
    # unchanged exactly-once admission below re-admits exactly them.
    # HostSeen.remove is safe for non-members in BOTH modes (an
    # at-least-once feeder can deliver the same revisit twice, or one
    # for a key never fetched): exact mode is a set discard, graduated
    # mode routes through the pending side-set and never decrements
    # Bloom counters shared with other keys
    if "revisit" in batch.columns:
        for rkey in {r.key for r in batch[batch["revisit"].fillna(False)].itertuples()}:
            seen.remove(url_hash64(rkey))
    # first-discovery-wins dedup (min disc_seq — the batch crawl's
    # min_by semantics), then the crawl priority order
    batch = (
        batch.sort_values("disc_seq")
        .drop_duplicates("key")
        .sort_values(["depth", "host_rank", "disc_seq"])
    )
    rows = []
    admitted = 0
    for r in batch.itertuples():
        h = url_hash64(r.key)
        if h in seen:
            continue  # exactly-once across the whole stream
        base = {
            "key": r.key,
            "url": r.url,
            "host": host,
            "depth": int(r.depth),
            "disc_seq": int(r.disc_seq),
        }
        if with_children:
            base["children"] = []
        if use_robots and not robots_allows(host, r.key):
            seen.add(h)  # permanently blocked — reported exactly once
            rows.append({**base, "status": "blocked", "attempts": 0, "delay_ms": 0})
            continue
        if admitted < budget:
            status, attempts, delay_ms, kids = fetch_url(
                r.key, fetcher, kernel_discover, decode_payload, payload_images,
                payload_scale, fanout, n_hosts,
            )
            seen.add(h)
            admitted += 1
            row = {**base, "status": status, "attempts": attempts, "delay_ms": delay_ms}
            if with_children:
                row["children"] = kids
            rows.append(row)
        else:
            rows.append({**base, "status": "deferred", "attempts": 0, "delay_ms": 0})
    return rows, admitted


_GATE_COLUMNS = ["key", "url", "host", "depth", "disc_seq", "status", "attempts", "delay_ms"]
_GATE_COLUMNS_CHILDREN = _GATE_COLUMNS + ["children"]


def _politeness_gate(
    key,
    pdfs,
    state,
    host_budget: int = 8,
    use_robots: bool = False,
    graduate_after: int | None = None,
    fetcher: str = "double",
    discover: str = "scripted",
    decode_payload: bool = False,
    payload_images: int = 2,
    payload_scale: int = 1,
    emit_children: tuple[int, int] | None = None,
):
    """applyInPandasWithState wrapper around :func:`_admit_host_batch`:
    the host's seen set (exact, or Bloom past graduation) + admission
    counters ride in the GroupState (per-host state is exactly where a
    robots cache and a seen set belong — they are host-keyed data)."""
    import pandas as pd

    (host,) = key
    if getattr(state, "hasTimedOut", False):
        state.remove()
        return
    if state.exists:
        seen_list, fetched_total, bloom_blob, pending_list = state.get
        seen = HostSeen(
            _decode_seen(seen_list), bloom_blob, graduate_after,
            pending=_decode_seen(pending_list or []),
        )
    else:
        seen, fetched_total = HostSeen(graduate_after=graduate_after), 0

    batch = pd.concat(list(pdfs), ignore_index=True)
    rows, admitted = _admit_host_batch(
        host, batch, seen, host_budget, use_robots, fetcher=fetcher,
        discover=discover, decode_payload=decode_payload,
        payload_images=payload_images, payload_scale=payload_scale,
        emit_children=emit_children,
    )
    state.update(seen.state_tuple(fetched_total + admitted))
    cols = (
        _GATE_COLUMNS_CHILDREN
        if (discover == "parse" or emit_children is not None)
        else _GATE_COLUMNS
    )
    yield pd.DataFrame(rows, columns=cols)


def stream_frontier_fetch(
    urls_stream: DataFrame,
    host_budget: int = 8,
    use_robots: bool = False,
    graduate_after: int | None = None,
    allow_revisit: bool = False,
    fetcher: str = "double",
    discover: str = "scripted",
    decode_payload: bool = False,
    payload_images: int = 2,
    payload_scale: int = 1,
    emit_children: tuple[int, int] | None = None,
) -> DataFrame:
    """(url, depth, disc_seq) stream → fetch-result stream.

    ``emit_children=(fanout, n_hosts)`` makes the gate emit each ok
    fetch's scripted, eligibility-filtered children in document order,
    whatever the fetcher (the batch crawl's fetch-UDF shape), adding a
    ``children`` column to the output — the feeder then derives the
    next frontier with one JVM posexplode instead of a second Python
    pass per round. Default
    off: the oracle-pinned gate pairs keep the 8-column schema.

    Output rows carry ``status`` ∈ {ok, failed, deferred, blocked};
    deferred rows are the feeder's re-queue contract. Canonicalization
    runs in the same vectorized UDF as the batch path, so the seen-set
    KEY is identical between the two crawl shapes. ``graduate_after``
    opts a deep host's state into Bloom graduation (see
    :class:`HostSeen`); default keeps exact byte-for-byte semantics.
    With ``allow_revisit`` the input stream carries a ``revisit``
    boolean column (recrawl manifests — plan_recrawl's output mapped
    to the stream schema): revisit rows forget their key in the
    host's state first, so the unchanged exactly-once admission
    re-admits exactly them — the streaming shape of the batch loop's
    recrawl injection."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    # fetch eligibility + one urn unwrap, JVM-side — the same gate the
    # batch crawl applies at seed injection (convert.js:167-171,810-814)
    eligible = urls_stream.filter(F.col("url").rlike("^(?i)(https?|urn):"))
    unwrapped = F.when(
        F.col("url").rlike("^(?i)urn:[^:]+:.+"),
        F.regexp_extract(F.col("url"), "^(?i)urn:[^:]+:(.+)$", 1),
    ).otherwise(F.col("url"))
    if discover == "parse" and fetcher != "http":
        raise ValueError('discover="parse" requires fetcher="http"')
    canon_schema = _CANON_SCHEMA + (", revisit boolean" if allow_revisit else "")
    canon = eligible.withColumn("url", unwrapped).mapInPandas(
        _canonicalize_batches, schema=canon_schema
    )
    return canon.groupBy("host").applyInPandasWithState(
        functools.partial(
            _politeness_gate,
            host_budget=host_budget,
            use_robots=use_robots,
            graduate_after=graduate_after,
            fetcher=fetcher,
            discover=discover,
            decode_payload=decode_payload,
            payload_images=payload_images,
            payload_scale=payload_scale,
            emit_children=emit_children,
        ),
        outputStructType=(
            GATE_SCHEMA + ", children array<string>"
            if (discover == "parse" or emit_children is not None)
            else GATE_SCHEMA
        ),
        stateStructType=_GATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


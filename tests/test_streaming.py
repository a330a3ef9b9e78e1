"""Streaming operators vs their batch equivalents: file source +
Trigger.AvailableNow, memory sink, exact result parity."""

import os

import pytest

from mhtml_to_html_spark.streaming import (
    stream_dedup_events,
    stream_events_windowed,
    stream_split_archives,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    # streaming file sources need a directory, the driver tables are
    # single files — restage once per module
    path = str(tmp_path_factory.mktemp("events_stream"))
    spark.read.parquet(f"{SF_DIR}/events.parquet").write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def events_schema(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet").schema


def _run_available_now(stream_df, name: str, spark):
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if name != "windowed" else "complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


@pytest.mark.spark
def test_streaming_windowed_agg_matches_batch(spark, events_schema, events_dir):
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(events_schema).parquet(events_dir)
    result = _run_available_now(stream_events_windowed(stream), "windowed", spark)

    batch = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    expected = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )
    got = {tuple(r) for r in result.collect()}
    want = {tuple(r) for r in expected.collect()}
    assert got == want


@pytest.mark.spark
def test_streaming_dedup_matches_batch(spark, events_schema, events_dir):
    stream = spark.readStream.schema(events_schema).parquet(events_dir)
    result = _run_available_now(
        stream_dedup_events(stream).select("event_id"), "deduped", spark
    )
    n_stream = result.count()
    n_batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_id").distinct().count()
    )
    assert n_stream == n_batch


@pytest.mark.spark
def test_streaming_sessionize_matches_batch(spark, events_schema, events_dir):
    """applyInPandasWithState sessionization == a batch window
    computation of the same gap-session semantics."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mhtml_to_html_spark.streaming import stream_sessionize

    gap = "30 minutes"
    stream = spark.readStream.schema(events_schema).parquet(events_dir)
    result = _run_available_now(stream_sessionize(stream, gap=gap), "sessions", spark)

    batch = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_ms = 30 * 60_000
    sessions = (
        batch.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (F.col("prev_ts").isNull())
            | ((F.col("ts").cast("long") - F.col("prev_ts").cast("long")) * 1000 > gap_ms),
        )
        .withColumn("session_id", F.sum(F.col("new_session").cast("int")).over(w))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )
    got = sorted(map(tuple, result.collect()))
    want = sorted(map(tuple, sessions.collect()))
    # the stream may keep the last session of each user open past the
    # final watermark; every emitted session must match the batch, and
    # the bulk of sessions must be emitted
    want_set = set(want)
    assert got, "no sessions emitted"
    assert all(s in want_set for s in got), "a streamed session disagrees with batch"
    assert len(got) >= len(want) - batch.select("user_id").distinct().count()


@pytest.mark.spark
def test_streaming_split_matches_batch(spark, tmp_path):
    from mhtml_to_html_spark.operators.split import split_archives
    from mhtml_to_html_spark.sources.corpus import archives_df

    archives = archives_df(spark, 6, 2, partitions=2)
    src = str(tmp_path / "archives")
    archives.write.parquet(src)

    stream = spark.readStream.schema(
        "archive_id string, content binary, case_family string, eol string"
    ).parquet(src)
    result = _run_available_now(
        stream_split_archives(stream).select("archive_id", "seq", "part_id", "content_type"),
        "stream_parts",
        spark,
    )
    batch = split_archives(spark.read.parquet(src)).select(
        "archive_id", "seq", "part_id", "content_type"
    )
    got = sorted(tuple(r) for r in result.collect())
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want


@pytest.mark.spark
def test_streaming_frontier_matches_oracle(spark, tmp_path):
    """Continuous-crawl shape: the applyInPandasWithState politeness
    gate, fed round-by-round through a file source with the checkpoint
    carrying per-host state across restarts, reproduces the
    round-based oracle exactly — per-round fetch order, statuses,
    attempts, exactly-once seen/failed sets, deferral."""
    from mhtml_to_html_spark.frontier.fixtures import (
        children_of,
        host_rank,
        seed_urls,
    )
    from mhtml_to_html_spark.frontier.oracle import crawl_oracle
    from mhtml_to_html_spark.streaming.frontier import stream_frontier_fetch
    from mhtml_to_html_spark.urlnorm import is_fetchable, unwrap_urn

    SEEDS, ROUNDS, BUDGET, FANOUT, NHOSTS = seed_urls(5, 3), 4, 6, 3, 7
    oracle = crawl_oracle(SEEDS, max_rounds=ROUNDS, host_budget=BUDGET)

    src = tmp_path / "frontier_src"
    sink = str(tmp_path / "frontier_sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = "url string, depth int, disc_seq long"

    def to_sink(df, batch_id):
        from pyspark.sql import functions as F

        df.withColumn("batch_id", F.lit(batch_id)).coalesce(1).write.mode(
            "append"
        ).parquet(sink)

    disc = 0
    rows = []
    for u in SEEDS:
        if is_fetchable(u):
            rows.append((unwrap_urn(u), 0, disc))
            disc += 1

    got_order = []
    seen_urls, failed_urls = set(), set()
    for r in range(ROUNDS):
        if not rows:
            break
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            stream_frontier_fetch(stream, host_budget=BUDGET)
            .writeStream.foreachBatch(to_sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        all_out = spark.read.parquet(sink)
        max_bid = all_out.agg({"batch_id": "max"}).collect()[0][0]
        out = all_out.filter(all_out.batch_id == max_bid).collect()
        fetched = sorted(
            (row for row in out if row["status"] != "deferred"),
            key=lambda row: (row["depth"], host_rank(row["host"]), row["disc_seq"]),
        )
        deferred = [row for row in out if row["status"] == "deferred"]
        for pos, row in enumerate(fetched):
            got_order.append(
                {
                    "round": r,
                    "pos": pos,
                    "url": row["key"],
                    "depth": row["depth"],
                    "status": row["status"],
                    "attempts": row["attempts"],
                }
            )
            (seen_urls if row["status"] == "ok" else failed_urls).add(row["key"])
        # feeder: children of ok fetches in (pos, child_idx) order, then
        # the deferred rows — exactly the batch round loop's next frontier
        rows = []
        # children must follow global pos order for disc_seq continuity
        for row in fetched:
            if row["status"] == "ok":
                for child in children_of(row["key"], FANOUT, NHOSTS):
                    if is_fetchable(child):
                        rows.append((child, row["depth"] + 1, disc))
                        disc += 1
        rows = [(d["url"], d["depth"], d["disc_seq"]) for d in deferred] + rows

    assert got_order == oracle.order
    assert seen_urls == oracle.seen
    assert failed_urls == oracle.failed


@pytest.mark.spark
def test_streaming_frontier_exactly_once_across_restarts(spark, tmp_path):
    """Regression: per-host seen state round-trips through Spark's
    SIGNED LongType — hashes >= 2^63 must still dedup after a query
    restart (full duplicate re-send), and urn:/non-fetchable inputs
    are unwrapped/filtered like the batch seed gate."""
    from pyspark.sql import functions as F

    from mhtml_to_html_spark.streaming.frontier import stream_frontier_fetch

    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = "url string, depth int, disc_seq long"

    def to_sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).coalesce(1).write.mode(
            "append"
        ).parquet(sink)

    def run_wave(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )
        q = (
            stream_frontier_fetch(
                spark.readStream.schema(schema).parquet(str(src)), host_budget=3
            )
            .writeStream.foreachBatch(to_sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.read.parquet(sink)
        bid = out.agg({"batch_id": "max"}).collect()[0][0]
        return [r.asDict() for r in out.filter(out.batch_id == bid).collect()]

    # 20 URLs so both hash half-spaces (< and >= 2^63) are populated
    rows = [(f"https://h1.example.com/p{i}", 0, i) for i in range(20)]
    waves = [run_wave(rows) for _ in range(3)]  # full duplicate re-sends
    admitted = [r for w in waves for r in w if r["status"] != "deferred"]
    assert len(admitted) == len({r["key"] for r in admitted}), "a URL was refetched"
    urn_wave = run_wave(
        [("urn:x:https://h1.example.com/z", 1, 99), ("mailto:a@b", 1, 100)]
    )
    assert [(r["key"], r["status"]) for r in urn_wave] == [
        ("https://h1.example.com/z", "ok")
    ]


@pytest.mark.spark
def test_streaming_frontier_matches_oracle_with_robots(spark, tmp_path):
    """Robots + token-bucket politeness through the streaming gate:
    fed round-by-round, order/seen/failed/blocked must match the
    robots-on oracle byte-for-byte."""
    from pyspark.sql import functions as F

    from mhtml_to_html_spark.frontier.fixtures import (
        children_of,
        host_rank,
        seed_urls,
    )
    from mhtml_to_html_spark.frontier.oracle import crawl_oracle
    from mhtml_to_html_spark.streaming.frontier import stream_frontier_fetch
    from mhtml_to_html_spark.urlnorm import is_fetchable, unwrap_urn

    SEEDS, ROUNDS, BUDGET, FANOUT, NHOSTS = seed_urls(5, 3), 4, 6, 3, 7
    oracle = crawl_oracle(
        SEEDS, max_rounds=ROUNDS, host_budget=BUDGET, use_robots=True
    )

    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = "url string, depth int, disc_seq long"

    def to_sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).coalesce(1).write.mode(
            "append"
        ).parquet(sink)

    disc, rows = 0, []
    for u in SEEDS:
        if is_fetchable(u):
            rows.append((unwrap_urn(u), 0, disc))
            disc += 1

    got_order, seen_urls, failed_urls, blocked_urls = [], set(), set(), set()
    for r in range(ROUNDS):
        if not rows:
            break
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )
        q = (
            stream_frontier_fetch(
                spark.readStream.schema(schema).parquet(str(src)),
                host_budget=BUDGET,
                use_robots=True,
            )
            .writeStream.foreachBatch(to_sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        all_out = spark.read.parquet(sink)
        bid = all_out.agg({"batch_id": "max"}).collect()[0][0]
        out = all_out.filter(all_out.batch_id == bid).collect()
        fetched = sorted(
            (row for row in out if row["status"] in ("ok", "failed")),
            key=lambda row: (row["depth"], host_rank(row["host"]), row["disc_seq"]),
        )
        for pos, row in enumerate(fetched):
            got_order.append(
                {
                    "round": r,
                    "pos": pos,
                    "url": row["key"],
                    "depth": row["depth"],
                    "status": row["status"],
                    "attempts": row["attempts"],
                }
            )
            (seen_urls if row["status"] == "ok" else failed_urls).add(row["key"])
        blocked_urls |= {row["key"] for row in out if row["status"] == "blocked"}
        rows = [
            (row["url"], row["depth"], row["disc_seq"])
            for row in out
            if row["status"] == "deferred"
        ]
        for row in fetched:
            if row["status"] == "ok":
                for child in children_of(row["key"], FANOUT, NHOSTS):
                    if is_fetchable(child):
                        rows.append((child, row["depth"] + 1, disc))
                        disc += 1

    assert got_order == oracle.order
    assert seen_urls == oracle.seen
    assert failed_urls == oracle.failed
    assert blocked_urls == oracle.blocked


def test_politeness_gate_state_carries_budget_across_batches():
    """The applyInPandasWithState wrapper against a stub GroupState:
    5 unique URLs (one in-batch duplicate) at budget 2 per batch — the
    first batch fetches 2 and defers 3, a re-send of the same batch
    fetches 2 of the deferred, and the state tuple carries the seen
    set and the admission total between the two."""
    import pandas as pd

    from mhtml_to_html_spark.frontier.fixtures import host_rank
    from mhtml_to_html_spark.streaming.frontier import _politeness_gate

    host = "host0.example.com"
    urls = [f"https://{host}/p{i}" for i in range(5)] + [f"https://{host}/p0"]
    batch = pd.DataFrame(
        {"key": urls, "url": urls, "host": [host] * 6, "depth": [0] * 6,
         "host_rank": [host_rank(host)] * 6, "disc_seq": [0, 1, 2, 3, 4, 9]}
    )

    class StubGroupState:
        hasTimedOut = False
        exists = False
        get = None

        def update(self, v):
            self.exists, self.get = True, v

    state = StubGroupState()
    statuses = []
    for _ in range(2):
        (out,) = _politeness_gate((host,), iter([batch]), state, host_budget=2)
        statuses.append(sorted(out["status"].replace("failed", "ok")))
    assert statuses == [["deferred"] * 3 + ["ok"] * 2, ["deferred"] + ["ok"] * 2]
    seen_list, fetched_total, _bloom, _pending = state.get
    assert fetched_total == 4 and len(seen_list) == 4


def test_host_seen_bloom_graduation():
    """HostSeen: exact until graduate_after, then the set folds into a
    bounded per-host Bloom — never a false negative (nothing refetched),
    state row bounded forever."""
    from mhtml_to_html_spark.streaming.frontier import HostSeen

    s = HostSeen(graduate_after=100, bloom_bits=1 << 15)
    keys = [hash(("k", i)) & 0xFFFFFFFFFFFFFFFF for i in range(5000)]
    for k in keys[:99]:
        s.add(k)
    assert s.bloom is None and len(s.exact) == 99  # still exact
    s.add(keys[99])
    assert s.bloom is not None and not s.exact  # graduated, exact folded
    for k in keys[100:]:
        s.add(k)
    # no false negatives: every added key still reads as seen
    assert all(k in s for k in keys)
    # bounded state: blob size is the filter, not the key count
    exact_list, total, blob, pending_list = s.state_tuple(0)
    assert exact_list == [] and pending_list == [] and len(blob) == (1 << 15) + 8
    # round-trip through the state tuple preserves membership
    s2 = HostSeen(exact_list, blob, graduate_after=100)
    assert all(k in s2 for k in keys)


@pytest.mark.spark
def test_streaming_gate_bloom_graduation_live(spark, tmp_path):
    """The gate with graduate_after: batch 0 graduates the host; batch
    1 must dedup every replayed URL against the BLOOM (nothing fetched
    twice) while still admitting fresh URLs, and the checkpointed state
    row stays bounded (empty exact array + fixed-size blob)."""
    from mhtml_to_html_spark.streaming.frontier import stream_frontier_fetch

    host = "deep0.example.com"
    schema = "url string, depth int, disc_seq long"
    urls0 = [(f"https://{host}/page/{i}", 0, i) for i in range(8)]
    urls1 = urls0 + [(f"https://{host}/fresh/{i}", 1, 100 + i) for i in range(4)]

    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    outs = []
    for rows in (urls0, urls1):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )
        q = (
            stream_frontier_fetch(
                spark.readStream.schema(schema).parquet(str(src)),
                host_budget=50,
                graduate_after=4,
            )
            .writeStream.foreachBatch(
                lambda df, bid, s=sink: df.coalesce(1).write.mode("append").parquet(s)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        outs.append(spark.read.parquet(sink).collect())

    batch0 = {r["key"] for r in outs[0]}
    assert len(batch0) == 8  # all admitted in batch 0
    batch1 = [r for r in outs[1] if r not in outs[0]]
    batch1_keys = {r["key"] for r in outs[1]} - batch0
    # replays NEVER re-emit (bloom dedup); only the fresh URLs appear
    assert batch1_keys == {f"https://{host}/fresh/{i}" for i in range(4)}


@pytest.mark.spark
def test_streaming_frontier_revisit_readmits_exactly_marked_keys(spark, tmp_path):
    """Recrawl in the streaming shape: wave 2 re-sends every URL but
    marks only SOME as revisit=True — the gate must refetch exactly
    the marked keys (their hashes are forgotten from the host state
    first) and keep deduping the rest; a later unmarked duplicate of a
    revisited key dedups again (the refetch re-seeded the state)."""
    from pyspark.sql import functions as F

    from mhtml_to_html_spark.streaming.frontier import stream_frontier_fetch

    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = "url string, depth int, disc_seq long, revisit boolean"

    def to_sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).coalesce(1).write.mode(
            "append"
        ).parquet(sink)

    def run_wave(rows):
        # a wave that dedups EVERYTHING emits zero rows, so "max
        # batch_id in the sink" would return the previous wave — track
        # the sink watermark instead
        import os

        prev = (
            spark.read.parquet(sink).agg({"batch_id": "max"}).collect()[0][0]
            if os.path.exists(sink)
            else -1
        )
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )
        q = (
            stream_frontier_fetch(
                spark.readStream.schema(schema).parquet(str(src)),
                host_budget=10,
                allow_revisit=True,
            )
            .writeStream.foreachBatch(to_sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.read.parquet(sink)
        return [
            r.asDict() for r in out.filter(out.batch_id > (prev if prev is not None else -1)).collect()
        ]

    urls = [f"https://h1.example.com/p{i}" for i in range(6)]
    wave1 = run_wave([(u, 0, i, False) for i, u in enumerate(urls)])
    assert {r["status"] for r in wave1} <= {"ok", "failed"}
    assert len(wave1) == 6

    revisit = {urls[1], urls[4]}
    wave2 = run_wave(
        [(u, 0, 100 + i, u in revisit) for i, u in enumerate(urls)]
    )
    refetched = {r["key"] for r in wave2 if r["status"] in ("ok", "failed")}
    assert refetched == {f"https://h1.example.com/p1", f"https://h1.example.com/p4"}

    # wave 3: plain duplicates again — nothing refetches (revisited
    # keys were re-seeded into the state by their wave-2 fetch)
    wave3 = run_wave([(u, 0, 200 + i, False) for i, u in enumerate(urls)])
    assert [r for r in wave3 if r["status"] in ("ok", "failed")] == []


def test_admit_host_batch_revisit_kernel_shared_by_both_bindings():
    """The revisit path lives in the gate's admission kernel: a batch
    with revisit-marked keys forgets them from the host's seen set and
    refetches exactly them."""
    import pandas as pd

    from mhtml_to_html_spark.frontier.fixtures import host_rank
    from mhtml_to_html_spark.frontier.seenset import url_hash64
    from mhtml_to_html_spark.streaming.frontier import HostSeen, _admit_host_batch

    host = "host0.example.com"
    keys = [f"https://{host}/p{i}" for i in range(4)]
    seen = HostSeen({url_hash64(k) for k in keys})  # everything seen

    batch = pd.DataFrame(
        {
            "key": keys,
            "url": keys,
            "host": [host] * 4,
            "depth": [0] * 4,
            "host_rank": [host_rank(host)] * 4,
            "disc_seq": list(range(4)),
            "revisit": [False, True, False, True],
        }
    )
    rows, admitted = _admit_host_batch(host, batch, seen, host_budget=10, use_robots=False)
    fetched = {r["key"] for r in rows if r["status"] in ("ok", "failed")}
    assert fetched == {keys[1], keys[3]}
    assert admitted == 2
    # refetched keys are re-seeded: a plain re-send dedups everything
    batch2 = batch.assign(revisit=[False] * 4)
    rows2, admitted2 = _admit_host_batch(host, batch2, seen, host_budget=10, use_robots=False)
    assert rows2 == [] and admitted2 == 0
    # Bloom-graduated state honors revisit through the exact pending
    # side-set (counters are NEVER decremented — shared cells must not
    # drain for survivors; a refetch clears its pending entry)
    gseen = HostSeen(graduate_after=2)
    for k in keys:
        gseen.add(url_hash64(k))
    assert gseen.bloom is not None  # graduated
    rows3, _ = _admit_host_batch(host, batch, gseen, host_budget=10, use_robots=False)
    fetched3 = {r["key"] for r in rows3 if r["status"] in ("ok", "failed")}
    assert fetched3 == {keys[1], keys[3]}
    assert gseen.pending == set()  # refetch cleared the side-set
    # and every original key still reads as seen (no counter drain)
    assert all(url_hash64(k) in gseen for k in keys)
    # a revisit for a key NEVER fetched must not disturb survivors
    ghost = url_hash64(f"https://{host}/never-fetched")
    gseen.remove(ghost)
    assert all(url_hash64(k) in gseen for k in keys)


@pytest.mark.spark
def test_stream_crawl_job_restart_parity(spark, tmp_path):
    """The packaged streaming feeder job (scripts/crawl_job.py
    --streaming): run one round, STOP, resume to completion — the full
    crawl ordering must be byte-for-byte the batch oracle's, with the
    gate checkpoint carrying seen state and the feeder state carrying
    the pending frontier across the restart."""
    from mhtml_to_html_spark.frontier.fixtures import seed_urls
    from mhtml_to_html_spark.frontier.oracle import crawl_oracle
    from mhtml_to_html_spark.streaming.feeder import (
        stream_crawl_job,
        stream_crawl_order,
    )

    SEEDS, ROUNDS, BUDGET = seed_urls(4, 2), 3, 5
    oracle = crawl_oracle(SEEDS, max_rounds=ROUNDS, host_budget=BUDGET)
    work = str(tmp_path / "stream_job")

    first = stream_crawl_job(
        spark, SEEDS, work, max_rounds=ROUNDS, host_budget=BUDGET, stop_after_round=1
    )
    assert len(first["rounds"]) == 1 and not first["fixpoint"]

    resumed = stream_crawl_job(
        spark, SEEDS, work, max_rounds=ROUNDS, host_budget=BUDGET, resume=True
    )
    assert resumed["rounds"][0]["round"] == 1  # continued, not restarted

    got = stream_crawl_order(spark, work)
    assert got == oracle.order
    # metrics line up per round with the oracle's
    all_rounds = first["rounds"] + resumed["rounds"]
    assert [(m["round"], m["fetched"]) for m in all_rounds] == [
        (m["round"], m["fetched"]) for m in oracle.metrics
    ]


@pytest.mark.spark
def test_stream_crawl_job_distributed_index_parity(spark, tmp_path, monkeypatch):
    """The feeder's distributed discovery numbering (the shared index
    threshold forced to 0, so every round takes the two-pass index)
    must reproduce the batch oracle's crawl order and per-round
    counters byte-for-byte."""
    from mhtml_to_html_spark.frontier import indexing
    from mhtml_to_html_spark.frontier.fixtures import seed_urls
    from mhtml_to_html_spark.frontier.oracle import crawl_oracle
    from mhtml_to_html_spark.streaming.feeder import (
        stream_crawl_job,
        stream_crawl_order,
    )

    monkeypatch.setattr(indexing, "DISTRIBUTED_ROWS", 0)
    SEEDS, ROUNDS, BUDGET = seed_urls(4, 2), 3, 5
    oracle = crawl_oracle(SEEDS, max_rounds=ROUNDS, host_budget=BUDGET, use_robots=True)
    work = str(tmp_path / "dist_job")
    res = stream_crawl_job(
        spark, SEEDS, work, max_rounds=ROUNDS, host_budget=BUDGET, use_robots=True
    )
    assert stream_crawl_order(spark, work) == oracle.order
    keys = ("round", "fetched", "ok", "failed", "deferred", "blocked")
    assert [{k: m[k] for k in keys} for m in res["rounds"]] == [
        {k: m[k] for k in keys} for m in oracle.metrics
    ]


@pytest.mark.spark
def test_stream_crawl_job_robots_parity(spark, tmp_path):
    """Robots-enabled streaming feeder job: blocked URLs are reported
    in metrics but get NO crawl-order position and never count as
    fetched — the full ordering must still match the batch oracle
    byte-for-byte."""
    from mhtml_to_html_spark.frontier.fixtures import seed_urls
    from mhtml_to_html_spark.frontier.oracle import crawl_oracle
    from mhtml_to_html_spark.streaming.feeder import (
        stream_crawl_job,
        stream_crawl_order,
    )

    SEEDS, ROUNDS, BUDGET = seed_urls(4, 2), 3, 5
    oracle = crawl_oracle(SEEDS, max_rounds=ROUNDS, host_budget=BUDGET, use_robots=True)
    work = str(tmp_path / "robots_job")
    res = stream_crawl_job(
        spark, SEEDS, work, max_rounds=ROUNDS, host_budget=BUDGET, use_robots=True
    )
    got = stream_crawl_order(spark, work)
    assert got == oracle.order
    assert [(m["round"], m["fetched"], m["blocked"]) for m in res["rounds"]] == [
        (m["round"], m["fetched"], m["blocked"]) for m in oracle.metrics
    ]


@pytest.mark.spark
def test_host_rank_col_parity(spark):
    """The feeder's JVM host-rank expression (md5 split into two
    32-bit halves folded mod 1000) must agree with the Python kernel
    ``fixtures.host_rank`` byte-for-byte — it orders parents for the
    distributed child numbering, so any divergence silently reorders
    the crawl."""
    from pyspark.sql import functions as F

    from mhtml_to_html_spark.frontier.fixtures import host_rank
    from mhtml_to_html_spark.streaming.feeder import host_rank_col

    hosts = (
        [f"host{i}.example.com" for i in range(50)]
        + ["127.0.0.1:8080", "a.b.c.d.example.net", "xn--bcher-kva.example", "x"]
    )
    got = {
        r["h"]: r["rank"]
        for r in spark.createDataFrame([(h,) for h in hosts], "h string")
        .select("h", host_rank_col(F.col("h")).alias("rank"))
        .collect()
    }
    assert got == {h: host_rank(h) for h in hosts}

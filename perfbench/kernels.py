"""No-Spark kernel sample: the per-item cost of each layer's pure-Python
kernel over a fixed sample of the workload's own seeded inputs, timed
in this process the way ``scripts/bench_core_ceiling.py`` times the
fetch kernel. Set beside the Spark-side numbers, executor time minus
kernel time is the cost of the Spark boundary.
"""

from __future__ import annotations

import statistics
import time

import workloads as wl

REPEATS = 5
FORMATS = ("png", "jpeg", "gif", "jpeg_prog")


def _cold_caches() -> None:
    """Empty the URL normalizers' memo caches: the crawl meets almost
    every URL once, so the first-touch cost is the one it pays."""
    from mhtml_to_html_spark.urlnorm import canonical

    canonical.canonicalize_url.cache_clear()
    canonical.normalize_location.cache_clear()


def _per_item(fn, items, scale: float) -> float:
    """Median over REPEATS passes of (pass time / items) x scale, each
    pass starting from empty URL caches."""
    times = []
    for _ in range(REPEATS):
        _cold_caches()
        t = time.perf_counter()
        for item in items:
            fn(item)
        times.append((time.perf_counter() - t) / len(items) * scale)
    return statistics.median(times)


def _sample_archives(workload) -> list[bytes]:
    """The archives the workload's calls parse: the crawl's payload
    stand-ins, or a fixed slice of the stored image archives."""
    if workload.name == "crawl":
        from mhtml_to_html_spark.sources.corpus import build_archive

        return [build_archive(i, 2, 1) for i in range(24)]
    step = max(1, len(workload.archives) // 24)
    return [content for _aid, content in workload.archives[::step][:24]]


def _sample_bases(workload) -> list[tuple[str, bytes]]:
    """Eight encoded bases per format: the workload's own when it has
    them, else bases from the images generator for the same seed."""
    bases = getattr(workload, "bases", None)
    if bases is None:
        picks = [
            b for fmt in FORMATS
            for b in [i for i, f in enumerate(wl.IMAGE_FORMATS * 8) if f == fmt][:8]
        ]
        return [wl.encode_base((workload.seed, b)) for b in picks]
    return [(f, d) for fmt in FORMATS for f, d in [x for x in bases if x[0] == fmt][:8]]


def sample(workload) -> dict[str, float]:
    from mhtml_to_html_spark.frontier import children_of
    from mhtml_to_html_spark.frontier.fixtures import fetch_with_retries
    from mhtml_to_html_spark.frontier.seenset import url_hash64
    from mhtml_to_html_spark.images.synth import phash64
    from mhtml_to_html_spark.mime.splitter import parse_mhtml
    from mhtml_to_html_spark.operators.convert import convert_page
    from mhtml_to_html_spark.sources.corpus import build_archive
    from mhtml_to_html_spark.urlnorm import canonicalize_url, is_fetchable

    out: dict[str, float] = {}

    # urlnorm + fetch kernel over the crawl world of this seed
    seeds = wl.crawl_seeds(workload.seed)
    urls = seeds + [c for s in seeds[:200] for c in children_of(s, wl.CRAWL_FANOUT, wl.CRAWL_HOSTS)]
    out["urlnorm.canonical_us"] = _per_item(canonicalize_url, urls, 1e6)

    payloads = {i: build_archive(i, 2, 1) for i in range(64)}
    keys = [canonicalize_url(u) for u in urls[:300]]

    def fetch(key):
        # the fetch UDF's per-URL work: scripted fetch, payload decode,
        # scripted discovery
        status, _attempts, _delay = fetch_with_retries(key)
        if status == "ok":
            parse_mhtml(payloads[url_hash64(key) % 64])
            [c for c in children_of(key, wl.CRAWL_FANOUT, wl.CRAWL_HOSTS) if is_fetchable(c)]

    out["frontier.fetch_kernel_ms"] = _per_item(fetch, keys, 1e3)

    archives = _sample_archives(workload)
    out["mime.parse_ms"] = _per_item(parse_mhtml, archives, 1e3)
    parsed = [parse_mhtml(a) for a in archives]
    out["operators.convert_ms"] = _per_item(convert_page, parsed, 1e3)

    bases = _sample_bases(workload)
    for fmt in FORMATS:
        data = [d for f, d in bases if f == fmt]
        out[f"media.decode_ms.{fmt}"] = _per_item(wl.decode_image, data, 1e3)
    pixels = [wl.decode_image(d)[1] for _f, d in bases]
    out["images.phash_ms"] = _per_item(phash64, pixels, 1e3)
    return out

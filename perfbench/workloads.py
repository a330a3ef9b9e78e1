"""The workloads: seeded inputs, the timed call, the no-Spark check.

Each workload drives one public entry point of the package:

- ``crawl``: ``crawl_spark`` with checkpoints, robots and payload
  decode, checked against ``crawl_oracle``;
- ``images``: ``split_archives`` -> ``extract_images`` over stored
  archives, checked against the decoders run without Spark.

Inputs depend only on the seed. ``prepare`` builds and stores them
(set-up); ``reference`` computes what every call must return, without
Spark and outside the set-up time. Image references are computed in
child processes (the generators and reference kernels are module-level
so the children can import them).
"""

from __future__ import annotations

import base64
import concurrent.futures
import os
import pickle
import random
import shutil
import struct
import subprocess
import sys
import zlib

# crawl world: seeds per host x hosts, expanded for ROUNDS rounds
CRAWL_HOSTS = 150
CRAWL_SEEDS_PER_HOST = 4
CRAWL_ROUNDS = 2
CRAWL_BUDGET = 24
CRAWL_FANOUT = 6

# images: distinct encoded bases (more than the JPEG Huffman-table
# cache holds), repeated with a unique comment per instance
IMAGE_BASES = 256
IMAGE_ARCHIVES = 250
IMAGES_PER_ARCHIVE = 8
IMAGE_W, IMAGE_H = 64, 48
# one image in TRUNCATE_EVERY is cut in half: a designed-in reject
TRUNCATE_EVERY = 50
# format mix per 10 bases: mostly progressive JPEG, as large web JPEGs are
IMAGE_FORMATS = ("png", "jpeg", "jpeg", "gif") + ("jpeg_prog",) * 6
_EXT = {"png": "png", "jpeg": "jpg", "gif": "gif", "jpeg_prog": "jpg"}
_CT = {"png": "image/png", "jpeg": "image/jpeg", "gif": "image/gif", "jpeg_prog": "image/jpeg"}

# untimed images calls before timing: the first carries the JVM's JIT
# ramp and the Python workers' imports and runs ~3.5x a warm call, the
# second ~1.1-1.2x, and the ones after it are level (e.g. 16.4, 5.6, then
# 5.1, 4.8, 4.6, 4.6, 4.8 s); the loop's median absorbs what is left
WARM_CALLS = 2

INPUT_FILES = 16


_WORKER = (
    "import pickle, sys; import workloads; name, items = pickle.load(sys.stdin.buffer); "
    "pickle.dump([getattr(workloads, name)(x) for x in items], sys.stdout.buffer)"
)


def parallel_map(func, items: list, cores: int) -> list:
    """``[func(x) for x in items]`` computed in ``cores`` child Python
    processes (``func`` is a function of this module); each child has
    ended when this returns."""
    here = os.path.dirname(os.path.abspath(__file__))

    def run(chunk):
        proc = subprocess.run(
            [sys.executable, "-c", _WORKER], input=pickle.dumps((func.__name__, chunk)),
            capture_output=True, cwd=here,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"{func.__name__} worker failed:\n{proc.stderr.decode()[-2000:]}")
        return pickle.loads(proc.stdout)

    with concurrent.futures.ThreadPoolExecutor(cores) as pool:
        parts = list(pool.map(run, [items[i::cores] for i in range(cores)]))
    out = [None] * len(items)
    for i, part in enumerate(parts):
        out[i::cores] = part
    return out


# -- crawl --------------------------------------------------------------------


def crawl_seeds(
    seed: int, hosts: int = CRAWL_HOSTS, per_host: int = CRAWL_SEEDS_PER_HOST
) -> list[str]:
    """Messy seed URLs (case, default port, dot segments, escapes), so
    canonicalization does real work; the seed salts every path."""
    out = []
    for h in range(hosts):
        for i in range(per_host):
            variant = (h + i) % 4
            if variant == 0:
                out.append(f"https://Host{h}.example.com:443/s{seed}/{i}")
            elif variant == 1:
                out.append(f"https://host{h}.example.com/a/../s{seed}/{i}")
            elif variant == 2:
                out.append(f"https://host{h}.example.com/s{seed}/%{ord('0') + i:02X}")
            else:
                out.append(f"https://host{h}.example.com/s{seed}/{i}")
    return out


class Crawl:
    name = "crawl"
    item = "URL fetched and decoded"

    def __init__(self, spark, seed: int, work_dir: str, hosts: int = CRAWL_HOSTS):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.seeds = crawl_seeds(seed, hosts)
        self.params = dict(
            max_rounds=CRAWL_ROUNDS, host_budget=CRAWL_BUDGET, fanout=CRAWL_FANOUT,
            n_hosts=hosts, use_robots=True,
        )
        self.n_calls = 0
        self.ckpt = None

    def prepare(self, cores: int) -> None:
        """The seed URLs are the whole input; nothing is stored."""

    def reference(self, cores: int) -> None:
        from mhtml_to_html_spark.frontier import crawl_oracle

        self.oracle = crawl_oracle(self.seeds, **self.params)

    def warmups(self) -> list:
        """One full call: the cold call runs about twice as long as a
        warm one, and the next is within a few percent of later ones."""
        return [self]

    def call(self):
        from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

        self.ckpt = os.path.join(self.work_dir, f"ckpt_{self.n_calls:03d}")
        self.n_calls += 1
        return crawl_spark(
            self.spark, self.seeds, checkpoint_dir=self.ckpt, decode_payload=True,
            **self.params,
        )

    def check(self, result) -> tuple[bool, int]:
        """Per-round counters and the final snapshot's order / seen /
        failed / blocked tables must equal the oracle's."""
        import pyarrow.parquet as pq

        from mhtml_to_html_spark.plans.catalog import SnapshotCatalog

        keys = ("fetched", "ok", "failed", "attempts", "deferred", "blocked")
        got = [{k: m[k] for k in keys} for m in result.metrics]
        want = [{k: m[k] for k in keys} for m in self.oracle.metrics]
        ok = got == want
        manifest = SnapshotCatalog(self.ckpt).latest()
        snap_dir = os.path.join(self.ckpt, "snapshots", f"snap_{manifest['snapshot_id']:06d}")

        def table(name):
            entry = manifest["tables"][name]
            return pq.read_table(entry.get("path") or os.path.join(snap_dir, name)).to_pylist()

        cols = ("round", "pos", "url", "depth", "status", "attempts")
        order = sorted(tuple(r[c] for c in cols) for r in table("order"))
        ok = ok and order == [tuple(r[c] for c in cols) for r in self.oracle.order]
        for name, want_keys in (
            ("seen", self.oracle.seen), ("failed", self.oracle.failed),
            ("blocked", self.oracle.blocked),
        ):
            ok = ok and {r["key"] for r in table(name)} == want_keys
        shutil.rmtree(self.ckpt, ignore_errors=True)
        return ok, sum(m["ok"] for m in result.metrics)


# -- images -------------------------------------------------------------------

_WORDS_LATIN = (
    "archive", "page", "résumé", "naïve", "façade", "crème", "garçon", "über",
    "frontier", "window", "river", "signal", "harbour", "lantern", "meadow",
    "copper", "thread", "mosaic", "quartz", "velvet",
)


def _with_comment(data: bytes, fmt: str, text: bytes) -> bytes:
    """Make an encoded image unique without re-encoding it: a comment
    the decoders skip (PNG tEXt, JPEG COM, GIF comment extension)."""
    if fmt == "png":
        body = b"Comment\x00" + text
        chunk = struct.pack(">I", len(body)) + b"tEXt" + body
        chunk += struct.pack(">I", zlib.crc32(b"tEXt" + body))
        return data[:33] + chunk + data[33:]  # after signature + IHDR
    if fmt == "gif":
        flags = data[10]
        at = 13 + (3 * (2 << (flags & 7)) if flags & 0x80 else 0)
        return data[:at] + b"\x21\xfe" + bytes([len(text)]) + text + b"\x00" + data[at:]
    return data[:2] + b"\xff\xfe" + struct.pack(">H", len(text) + 2) + text + data[2:]


def encode_base(args: tuple[int, int]) -> tuple[str, bytes]:
    """Base image ``b`` of ``seed``: synthetic pixels in the format the
    mix assigns to ``b``."""
    seed, b = args
    from mhtml_to_html_spark.images.synth import synth_image
    from mhtml_to_html_spark.media import (
        encode_gif, encode_jpeg, encode_jpeg_progressive, encode_png,
    )

    fmt = IMAGE_FORMATS[b % len(IMAGE_FORMATS)]
    pixels = synth_image(seed * 100_003 + b, IMAGE_W, IMAGE_H)
    if fmt == "png":
        data = encode_png(pixels)
    elif fmt == "jpeg":
        data = encode_jpeg(pixels, quality=85)
    elif fmt == "gif":
        data = encode_gif([pixels // 64 * 64])
    else:
        data = encode_jpeg_progressive(pixels, quality=85)
    return fmt, data


def decode_image(data: bytes):
    """The decode ``extract_images`` applies, by magic bytes, run
    without Spark: (format, pixels as h x w x 3)."""
    import numpy as np

    from mhtml_to_html_spark.media import decode_gif, decode_jpeg, decode_png

    if data[:8] == b"\x89PNG\r\n\x1a\n":
        fmt, pixels = "png", decode_png(data)
    elif data[:6] in (b"GIF87a", b"GIF89a"):
        fmt, pixels = "gif", decode_gif(data)[0][0]
    else:
        fmt, pixels = "jpeg", decode_jpeg(data)
    if pixels.shape[2] > 3:
        pixels = pixels[..., :3]
    elif pixels.shape[2] < 3:
        pixels = np.repeat(pixels[..., :1], 3, axis=2)
    return fmt, pixels


def image_reference(data: bytes):
    """(w, h, fmt, phash) or None when the decoder rejects the bytes."""
    from mhtml_to_html_spark.images.synth import phash64

    try:
        fmt, pixels = decode_image(data)
    except Exception:
        return None
    h, w = pixels.shape[:2]
    return w, h, fmt, phash64(pixels)


def _caption(rng: random.Random) -> str:
    return " ".join(rng.choice(_WORDS_LATIN) for _ in range(rng.randint(4, 9)))


def image_archives(seed: int, bases: list[tuple[str, bytes]], n_archives: int = IMAGE_ARCHIVES,
                   per_archive: int = IMAGES_PER_ARCHIVE):
    """Archives of (index page, image parts, caption parts) plus the
    expected image list [(archive_id, image_id, caption, bytes)]."""
    rng = random.Random(seed)
    archives, images = [], []
    for a in range(n_archives):
        archive_id = f"g{seed}_{a:05d}"
        host = f"https://gallery{a % 41}.example"
        boundary = f"----=_Img_{seed}_{a}"
        figures, parts = [], []
        for k in range(per_archive):
            j = a * per_archive + k
            fmt, data = bases[j % len(bases)]
            data = _with_comment(data, fmt, f"{seed}:{j}".encode())
            if j % TRUNCATE_EVERY == TRUNCATE_EVERY - 1:
                data = data[: len(data) // 2]
            image_id = f"img_{seed}_{j:06d}"
            caption = _caption(rng)
            images.append((archive_id, image_id, caption, data))
            figures.append(
                f'<figure><img src="{image_id}.{_EXT[fmt]}"><figcaption>{caption}'
                "</figcaption></figure>"
            )
            b64 = base64.b64encode(data).decode("ascii")
            parts += [
                f"--{boundary}", f"Content-Type: {_CT[fmt]}",
                "Content-Transfer-Encoding: base64",
                f"Content-Location: {host}/{image_id}.{_EXT[fmt]}", "",
                "\r\n".join(b64[i : i + 76] for i in range(0, len(b64), 76)),
                f"--{boundary}", "Content-Type: text/plain; charset=utf-8",
                "Content-Transfer-Encoding: 8bit",
                f"Content-Location: {host}/{image_id}.txt", "", caption,
            ]
        index = (
            f"<html><head><title>Gallery {a}</title></head><body>"
            + "".join(figures) + "</body></html>"
        )
        lines = [
            "From: <Saved by perfbench>", f"Subject: gallery {a}", "MIME-Version: 1.0",
            f'Content-Type: multipart/related; boundary="{boundary}"; type="text/html"', "",
            f"--{boundary}", "Content-Type: text/html; charset=utf-8",
            "Content-Transfer-Encoding: 8bit", f"Content-Location: {host}/page{a}.html", "",
            index, *parts, f"--{boundary}--", "",
        ]
        archives.append((archive_id, "\r\n".join(lines).encode("utf-8")))
    return archives, images


def write_archives(path: str, archives: list[tuple[str, bytes]], files: int = INPUT_FILES) -> None:
    """Store (archive_id, content) as ``files`` parquet files of equal
    archive counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for f in range(files):
        chunk = archives[f::files]
        pq.write_table(
            pa.table({
                "archive_id": pa.array([a for a, _ in chunk], pa.string()),
                "content": pa.array([c for _, c in chunk], pa.binary()),
            }),
            os.path.join(path, f"part-{f:05d}.parquet"),
        )


class Images:
    name = "images"
    item = "image decoded"

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.path = os.path.join(work_dir, "inputs", "images")

    def prepare(self, cores: int) -> None:
        self.bases = parallel_map(encode_base, [(self.seed, b) for b in range(IMAGE_BASES)], cores)
        self.archives, self.images = image_archives(self.seed, self.bases)
        write_archives(self.path, self.archives)
        self.n_images = len(self.images)

    def reference(self, cores: int) -> None:
        refs = parallel_map(image_reference, [data for *_, data in self.images], cores)
        self.expected = {
            (archive_id, image_id) + ref + (caption,)
            for (archive_id, image_id, caption, _data), ref in zip(self.images, refs)
            if ref is not None
        }

    def warmups(self) -> list:
        return [self] * WARM_CALLS

    def call(self):
        from mhtml_to_html_spark.operators.images_extract import extract_images
        from mhtml_to_html_spark.operators.split import split_archives

        images = extract_images(split_archives(self.spark.read.parquet(self.path)))
        cols = ("archive_id", "image_id", "w", "h", "fmt", "phash", "caption")
        return images.select(*cols).collect()

    def check(self, rows) -> tuple[bool, int]:
        got = {tuple(r) for r in rows}
        return len(got) == len(rows) and got == self.expected, len(rows)


WORKLOADS = {w.name: w for w in (Crawl, Images)}

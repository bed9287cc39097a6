"""Seeded crawl inputs and the expected per-round outcome.

The generator reproduces the shapes of ``synth.gen_*_distributed``:
power-law hosts (``host = floor(n_hosts * u**4)``), a link graph with
fanout 2 whose targets may repeat, and a corpus that holds an image for
every URL id, so every schedulable URL can be fetched. The workload seed
is mixed into every draw and into the image ids, so two seeds give two
different corpora. A share of seed and link URLs is written in a messy
form (upper-case host, ``:80``, ``#fragment`` or ``utm_*`` parameters)
whose canonical form is known here by construction, so the URL
canonicalizer has work to do.

``expected_rounds`` is an independent single-threaded model of the
round rules (robots exclusion, per-host top-k by ``priority DESC,
urlhash ASC``, the deterministic transient-failure mask, retry
exhaustion, quarantine of images that fail validation, link discovery
and the seen set). The benchmark checks every timed round of the engine
against it.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

FAIL_MOD = 17
PRIVATE = "/private"
# the fetch validation contract: lossy images need this PSNR and a pHash
# within this Hamming distance of the stored one; lossless must match
PSNR_GATE_DB = 40.0
LOSSY_PHASH_BITS = 2


@dataclass(frozen=True)
class CrawlShape:
    n_urls: int           # URL id space; the corpus covers all of it
    n_hosts: int
    n_seeds: int
    host_budget: int      # CrawlConfig.default_host_budget
    img_dims: tuple = (16, 32)
    fanout: int = 2
    messy_frac: float = 0.3
    private_frac: float = 0.05
    robots_host_frac: float = 0.25
    max_retries: int = 3


def _messy(url: str, kind: int) -> str:
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    if kind == 0:
        return f"{scheme}://{host.upper()}/{path}"
    if kind == 1:
        return f"{scheme}://{host}:80/{path}"
    if kind == 2:
        return f"{scheme}://{host}/{path}#frag"
    return f"{scheme}://{host}/{path}?utm_source=bench&utm_medium=x"


def generate(shape: CrawlShape, seed: int) -> dict:
    """Return pandas frames ``seeds``, ``links``, ``robots``, ``ids``
    (one row per URL id: canonical url, host, image_id, priority, w, h,
    fmt) plus the shape. Same seed, same frames."""
    rng = np.random.Generator(np.random.PCG64([seed, 0x68797065]))
    n = shape.n_urls
    u = rng.random(n)
    host_id = np.floor(shape.n_hosts * u ** 4).astype(np.int64)
    private = rng.random(n) < shape.private_frac
    ids = np.arange(n)
    hosts = [f"host{h:05d}.example" for h in host_id]
    urls = [f"http://{hosts[i]}{PRIVATE if private[i] else ''}/p/{i}"
            for i in range(n)]
    image_ids = [f"img{seed % 10_000:04d}{i:06d}" for i in ids]
    priority = np.round(rng.random(n), 6)
    dims = np.asarray(shape.img_dims)
    w = dims[rng.integers(0, len(dims), n)].astype(np.int32)
    h = dims[rng.integers(0, len(dims), n)].astype(np.int32)
    fmt = np.where(rng.random(n) < 0.5, "hypng", "hyjpg")
    id_frame = pd.DataFrame({"url": urls, "host": hosts, "image_id": image_ids,
                             "priority": priority, "w": w, "h": h, "fmt": fmt})

    def raw(idx: np.ndarray) -> list[str]:
        mess = rng.random(len(idx)) < shape.messy_frac
        kind = rng.integers(0, 4, len(idx))
        return [_messy(urls[i], int(k)) if m else urls[i]
                for i, m, k in zip(idx, mess, kind)]

    seed_idx = rng.permutation(n)[:shape.n_seeds]
    seeds = pd.DataFrame({"url": raw(seed_idx),
                          "image_id": [image_ids[i] for i in seed_idx],
                          "priority": priority[seed_idx]})
    src = np.repeat(ids, shape.fanout)
    dst = rng.integers(0, n, len(src))
    links = pd.DataFrame({"src_url": [urls[i] for i in src],
                          "dst_url": raw(dst),
                          "dst_image_id": [image_ids[i] for i in dst],
                          "dst_priority": priority[dst]})
    n_rules = max(1, int(shape.n_hosts * shape.robots_host_frac))
    rule_hosts = rng.choice(shape.n_hosts, n_rules, replace=False)
    robots = pd.DataFrame({
        "host": [f"host{h:05d}.example" for h in sorted(rule_hosts)],
        "disallow_prefixes": [[PRIVATE]] * n_rules,
        "allow_prefixes": [[] for _ in range(n_rules)],
        "crawl_delay_s": np.zeros(n_rules),
        "max_per_round": np.full(n_rules, shape.host_budget, dtype=np.int32),
    })
    return {"shape": shape, "ids": id_frame, "seeds": seeds, "links": links,
            "robots": robots, "seed_idx": seed_idx, "src": src, "dst": dst}


def image_valid(pixels, blob: bytes, fmt: str, stored_phash: int) -> bool:
    """Whether a fetched image passes validation: decoded pixels match
    the truth (PSNR gate for lossy formats, bit-exact otherwise) and its
    pHash is within tolerance of the stored one."""
    from hyperion_crawler_spark.functions.images import decode, phash64, psnr_db

    got = decode(blob)
    lossy = fmt == "hyjpg"
    dist = bin((phash64(got) ^ stored_phash) & ((1 << 64) - 1)).count("1")
    if lossy:
        return psnr_db(got, pixels) >= PSNR_GATE_DB and dist <= LOSSY_PHASH_BITS
    return bool(np.array_equal(got, pixels)) and dist == 0


def _failed(urlhash: int, retry: int) -> bool:
    return ((urlhash + 131 * retry) & ((1 << 64) - 1)) % FAIL_MOD == 0


def expected_rounds(inputs: dict, urlhash: np.ndarray, invalid: set,
                    n_rounds: int) -> list[dict]:
    """Model ``n_rounds`` crawl rounds after the seed bootstrap and return
    each round's ``scheduled, fetched, failed, new_urls, deduped``.

    ``urlhash[i]`` is Spark's signed ``xxhash64`` of URL id ``i``'s
    canonical form; ``invalid`` holds the image ids that fail
    validation. Every image exists in the corpus, so a scheduled URL is
    fetched, transiently failed or quarantined."""
    shape: CrawlShape = inputs["shape"]
    ids = inputs["ids"]
    host = ids["host"].to_numpy()
    image = ids["image_id"].to_numpy()
    prio = ids["priority"].to_numpy()
    private = ids["url"].str.contains(PRIVATE, regex=False).to_numpy()
    disallow = set(inputs["robots"]["host"])
    out_links: dict[int, list[int]] = {}
    for s, d in zip(inputs["src"], inputs["dst"]):
        out_links.setdefault(int(s), []).append(int(d))

    pending: dict[int, int] = {}          # url id -> retry_count
    for i in inputs["seed_idx"]:
        pending[int(i)] = 0
    seen = set(pending)
    rounds = []
    for _ in range(n_rounds):
        by_host: dict[str, list[int]] = {}
        for i in list(pending):
            if private[i] and host[i] in disallow:
                del pending[i]            # robots: archived as excluded
                continue
            by_host.setdefault(host[i], []).append(i)
        scheduled: list[int] = []
        for rows in by_host.values():
            rows.sort(key=lambda i: (-prio[i], int(urlhash[i])))
            scheduled.extend(rows[:shape.host_budget])
        fetched, failed = [], 0
        for i in scheduled:
            retry = pending[i]
            if _failed(int(urlhash[i]), retry):
                failed += 1
                if retry + 1 > shape.max_retries:
                    del pending[i]
                else:
                    pending[i] = retry + 1
            else:
                del pending[i]
                if image[i] not in invalid:
                    fetched.append(i)
        cand = {d for i in fetched for d in out_links.get(i, ())}
        new = cand - seen
        seen |= new
        for i in new:
            pending[i] = 0
        rounds.append({"scheduled": len(scheduled), "fetched": len(fetched),
                       "failed": failed, "new_urls": len(new),
                       "deduped": len(cand) - len(new)})
    return rounds

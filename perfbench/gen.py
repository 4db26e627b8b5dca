"""Seeded input generators.  The same seed gives the same inputs; the
program under test receives only what these functions produce.

The synthetic web follows the shape of ``operators.synth`` (hosts
``h<k>.com``, pages ``/p/<i>``, cross-host links, one hot host holding
about 10% of the pages, every fifth host disallowing ``/p/4*``), but the
seed relabels hosts, so which host is hot, which hosts are disallowed and
the uri tie-break order all change with it.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

HOT_FRAC = 0.10


def page_url(k: int, i: int) -> str:
    return f"http://h{k}.com/p/{i}"


def page_uri(k: int, i: int) -> str:
    return f"com.h{k}>>o>/p/{i}"


class PageWorld:
    """Pages over ``n_hosts`` relabelled hosts; ``add`` creates new pages
    and ``reput`` re-puts existing ones with fresh link sets, so links
    disappear as well as appear."""

    def __init__(self, seed: int, n_hosts: int, fanout: int = 5):
        self.rng = np.random.Generator(np.random.PCG64(seed))
        self.hosts = [int(k) for k in self.rng.permutation(n_hosts)]
        self.hot = self.hosts[0]
        self.n_hosts = n_hosts
        self.fanout = fanout
        self.next_index = dict.fromkeys(self.hosts, 0)
        self.pages: dict[str, dict] = {}  # uri -> latest page (Gson fields)

    def _host(self) -> int:
        if self.rng.random() < HOT_FRAC:
            return self.hot
        return self.hosts[int(self.rng.integers(self.n_hosts))]

    def _links(self, k: int) -> list[dict]:
        out = []
        for _ in range(self.fanout):
            dk = self._host()
            if dk == k:
                dk = self.hosts[(self.hosts.index(dk) + 1) % self.n_hosts]
            di = int(self.rng.integers(max(8, self.next_index[dk] + 8)))
            out.append({"url": page_url(dk, di), "uri": page_uri(dk, di),
                        "anchorText": f"a{di}"})
        return out

    def _page(self, k: int, i: int) -> dict:
        return {"url": page_url(k, i), "uri": page_uri(k, i),
                "title": f"page {k}/{i}", "outboundLinks": self._links(k)}

    def add(self, n: int) -> list[dict]:
        batch = []
        for _ in range(n):
            k = self._host()
            i = self.next_index[k]
            self.next_index[k] = i + 1
            batch.append(self._page(k, i))
        for p in batch:
            self.pages[p["uri"]] = p
        return batch

    def reput(self, n: int) -> list[dict]:
        uris = sorted(self.pages)
        pick = self.rng.choice(len(uris), size=min(n, len(uris)), replace=False)
        batch = []
        for j in sorted(int(x) for x in pick):
            old = self.pages[uris[j]]
            k = int(old["uri"].split(">", 1)[0][len("com.h"):])
            batch.append({**old, "outboundLinks": self._links(k)})
        for p in batch:
            self.pages[p["uri"]] = p
        return batch


def write_pages(path: str, pages: list[dict]) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        for p in pages:
            f.write(json.dumps(p) + "\n")
    os.replace(tmp, path)  # the stream never sees a half-written file


# ------------------------------------------------------------ fetch inputs


def _host_label(seed: int, n_hosts: int):
    """Host number after the seed's relabelling: an affine map that is a
    permutation because ``a`` is odd and ``n_hosts`` a power of two."""
    if n_hosts & (n_hosts - 1):
        raise ValueError(f"n_hosts must be a power of two, got {n_hosts}")
    a = 1 + 2 * (seed % 1000)
    hot = F.pmod(F.xxhash64(F.lit(seed), F.lit("hot"), F.col("id")), F.lit(10)) == 0
    raw = F.when(hot, F.lit(0)).otherwise(
        F.pmod(F.xxhash64(F.lit(seed), F.lit("host"), F.col("id")), F.lit(n_hosts))
    )
    return F.pmod(raw * F.lit(a) + F.lit(seed), F.lit(n_hosts))


def candidates(spark: SparkSession, seed: int, n: int, n_hosts: int) -> DataFrame:
    """``n`` candidate URLs (uri, host, path, priority); host ``h<k>`` for
    the relabelled hot host receives an extra 10%."""
    k = _host_label(seed, n_hosts).cast("string")
    path = F.concat(F.lit("/p/"), F.col("id").cast("string"))
    return spark.range(n).select(
        F.concat(F.lit("com.h"), k, F.lit(">>o>"), path).alias("uri"),
        F.concat(F.lit("h"), k, F.lit(".com")).alias("host"),
        path.alias("path"),
        (F.pmod(F.xxhash64(F.lit(seed), F.lit("prio"), F.col("id")), F.lit(10000))
         / 100.0).alias("priority"),
    )


def pre_seen(cands: DataFrame, seed: int, frac_div: int = 4) -> DataFrame:
    """Every ``frac_div``-th candidate (by seeded hash) is already seen."""
    return cands.where(
        F.pmod(F.xxhash64(F.lit(seed), F.lit("seen"), F.col("uri")), F.lit(frac_div)) == 0
    ).select("uri", "host")


def robots(spark: SparkSession, n_hosts: int) -> DataFrame:
    return spark.range(n_hosts).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".com")).alias("host"),
        F.when(F.col("id") % 5 == 2, F.array(F.lit("/p/4"))).otherwise(
            F.array().cast("array<string>")
        ).alias("disallow"),
        (F.lit(1.0) + (F.col("id") % 3).cast("double")).alias("crawl_delay"),
    )


IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)


def image_id(seed: int, i: int) -> str:
    return f"com.img{seed}>>o>/i/{i}.png"


def images(spark: SparkSession, seed: int, n: int, parts: int) -> DataFrame:
    """``n`` stored image rows (PNG/raw/lossy mix by id) whose pixels and
    captions the verifier can regenerate from ``image_id``."""

    def gen(batches):
        from webindex_spark.operators import synth

        for pdf in batches:
            yield synth.gen_images_pandas(
                [image_id(seed, int(i)) for i in pdf["id"]], w=48, h=32
            )

    return spark.range(0, n, 1, parts).mapInPandas(gen, schema=IMAGE_SCHEMA)

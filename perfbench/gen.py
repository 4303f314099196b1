"""Seeded input generators. Same seed, same inputs: every generator
draws from its own ``random.Random`` derived from the run seed, and
nothing here reads the clock or the environment.

The generators return plain Python structures (plus the ground truth
the output checks need); ``write_*`` helpers persist them with pyarrow.
PNG payloads are encoded here with ``zlib``/``struct``, independently
of the program's own codecs.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
import struct
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

DISTS = ("cdp", "hdp", "cdh")  # cluster 0, the timed one, has the largest catalog
ZONES = ("zone1", "zone2", "zone3", "zone4", "zone5")
START_ID = 1025
TAKEN_IDS = 6  # pre-taken gids and uids per cluster


def rng(seed: int, stream: str) -> random.Random:
    """An independent, reproducible stream per (seed, purpose)."""
    return random.Random(f"{seed}:{stream}")


def _word(r: random.Random, lo: int = 3, hi: int = 9) -> str:
    return "".join(r.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(r.randint(lo, hi)))


# ------------------------------------------------------------ provision


def cluster_specs(seed: int, count: int) -> list[dict]:
    """``count`` clusters. The dist cycles by index (so every run's
    i-th cluster carries the same catalog, whatever the seed); the seed
    picks the zone, the cluster-name suffix, the pre-taken uid/gid
    collisions and which rows drift deletes."""
    out = []
    for i in range(count):
        r = rng(seed, f"cluster{i}")
        # fixed-length names and a fixed collision count keep the
        # input and state sizes (the stored-bytes bases) seed-stable
        suffix = f"{_word(r, 5, 5)}{i:02d}"
        taken_gids = sorted(r.sample(range(START_ID, START_ID + 60), TAKEN_IDS))
        taken_uids = sorted(r.sample(range(START_ID, START_ID + 55), TAKEN_IDS))
        foreign_groups = [(f"ext_g{k}_{suffix}", gid) for k, gid in enumerate(taken_gids)]
        foreign_users = [
            (f"ext_u{k}_{suffix}", uid, foreign_groups[k % len(foreign_groups)][0])
            for k, uid in enumerate(taken_uids)
        ]
        out.append(
            {
                "index": i,
                "dist": DISTS[i % len(DISTS)],
                "zone": r.choice(ZONES),
                "suffix": suffix,
                "foreign_groups": foreign_groups,
                "foreign_users": foreign_users,
                "drift_share": r.choice((0.1, 0.15, 0.2, 0.25)),
                "drift_seed": r.randrange(1 << 30),
            }
        )
    return out


def desired_catalog(spec: dict) -> dict[str, set]:
    """The rows a cluster must converge to, from the program's source
    catalogs with the cluster-name suffix applied (the key sets the
    provision checks compare against)."""
    from isilon_hadoop_tools_spark.sources import catalogs

    dist, zone, sfx = spec["dist"], spec["zone"], "-" + spec["suffix"]
    root = f"/ifs/{zone}/hadoop"
    dirs = set()
    for _seq, path, owner, group, mode in catalogs.directory_rows(dist):
        joined = re.sub("/+", "/", root.rstrip("/") + "/" + path.lstrip("/"))
        joined = joined if joined == "/" else joined.rstrip("/")
        dirs.add((joined, owner + sfx, group + sfx, mode))
    return {
        "groups": {g + sfx for (g,) in catalogs.group_rows(dist, zone)},
        "users": {(u + sfx, p + sfx) for u, p in catalogs.user_rows(dist, zone)},
        "memberships": {(u + sfx, g + sfx) for u, g in catalogs.membership_rows(dist)},
        "proxy_users": {
            (p + sfx, m + sfx, t) for p, m, t in catalogs.proxy_user_rows(dist)
        },
        "directories": dirs,
    }


def catalog_items(desired: dict[str, set]) -> int:
    return sum(len(v) for v in desired.values())


# --------------------------------------------------------------- curate


def _vocab(r: random.Random, n: int) -> list[str]:
    seen, words = set(), []
    while len(words) < n:
        w = _word(r)
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


# one vocabulary for every seed: its word lengths set the document
# bytes, and a seed-stable size keeps the stored-bytes base stable
VOCAB = _vocab(rng(0, "vocab"), 1500)


def _mutate(r: random.Random, tokens: list[str], vocab: list[str], edits: int) -> list[str]:
    out = list(tokens)
    for pos in r.sample(range(len(out)), edits):
        out[pos] = r.choice(vocab)
    return out


def corpus_shard(seed: int, shard: int, n_docs: int, dup_share: float) -> dict:
    """One shard of text documents with planted duplicates.

    ``dup_share`` of the documents are copies: half exact copies of an
    earlier document (exact-dup groups), half near copies (one token
    substituted; a planted near pair). Quality label: documents drawn
    mostly from the "good" half of the vocabulary are labelled good.
    Ids are globally unique across shards."""
    r = rng(seed, f"shard{shard}")
    vocab = VOCAB
    good, bad = vocab[:750], vocab[750:]
    base_id = shard * 1_000_000
    docs: list[tuple[int, str, bool]] = []
    exact_groups: dict[int, list[int]] = {}
    near_pairs: list[tuple[int, int]] = []
    n_copies = int(n_docs * dup_share)
    n_orig = n_docs - n_copies
    for k in range(n_orig):
        is_good = r.random() < 0.5
        main, other = (good, bad) if is_good else (bad, good)
        length = 50
        toks = [r.choice(main) if r.random() < 0.8 else r.choice(other) for _ in range(length)]
        docs.append((base_id + k, " ".join(toks), is_good))
    for k in range(n_copies):
        src_id, src_text, src_label = docs[r.randrange(n_orig)]
        new_id = base_id + n_orig + k
        if k % 2 == 0:
            docs.append((new_id, src_text, src_label))
            exact_groups.setdefault(src_id, [src_id]).append(new_id)
        else:
            toks = _mutate(r, src_text.split(" "), vocab, 1)
            docs.append((new_id, " ".join(toks), src_label))
            near_pairs.append((src_id, new_id))
    r.shuffle(docs)
    return {
        "docs": docs,
        "exact_groups": list(exact_groups.values()),
        "near_pairs": near_pairs,
    }


def _png(width: int, height: int, pixels: bytes) -> bytes:
    """8-bit RGB PNG, filter 0 on every scanline, zlib level 6."""

    def chunk(kind: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(kind + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + kind + data + struct.pack(">I", crc)

    stride = width * 3
    raw = b"".join(b"\x00" + pixels[y * stride:(y + 1) * stride] for y in range(height))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def ahash(width: int, height: int, pixels: bytes, grid: int = 6) -> int:
    """The mosaic aHash the image layer documents: cell luminance is
    r+g+b of the pixel at (gx*w//grid, gy*h//grid); bit gy*grid+gx is
    set when grid^2 * cell > sum of cells. Pure-Python reference."""
    cells = []
    for gy in range(grid):
        y = gy * height // grid
        for gx in range(grid):
            x = gx * width // grid
            off = (y * width + x) * 3
            cells.append(pixels[off] + pixels[off + 1] + pixels[off + 2])
    total = sum(cells)
    return sum(1 << i for i, c in enumerate(cells) if grid * grid * c > total)


def image_shard(seed: int, shard: int, n_images: int, dup_share: float, size: int = 24) -> dict:
    """``n_images`` RGB thumbnails: smooth random gradients plus noise.
    ``dup_share`` of them are copies of an earlier image, each with a
    few pixels perturbed (near duplicates). Returns payloads and the
    reference aHash of every image."""
    r = rng(seed, f"images{shard}")
    base_id = shard * 1_000_000
    raws: list[bytes] = []
    n_copies = int(n_images * dup_share)
    for _ in range(n_images - n_copies):
        c0 = [r.randrange(256) for _ in range(3)]
        dx = [r.randint(-9, 9) for _ in range(3)]
        dy = [r.randint(-9, 9) for _ in range(3)]
        px = bytearray()
        for y in range(size):
            for x in range(size):
                for ch in range(3):
                    v = c0[ch] + dx[ch] * x + dy[ch] * y + r.randint(-20, 20)
                    px.append(min(255, max(0, v)))
        raws.append(bytes(px))
    for _ in range(n_copies):
        px = bytearray(raws[r.randrange(len(raws))])
        for _ in range(4):
            px[r.randrange(len(px))] = r.randrange(256)
        raws.append(bytes(px))
    images = []
    for k, px in enumerate(raws):
        images.append((base_id + k, _png(size, size, px), ahash(size, size, px)))
    return {"images": images}


# --------------------------------------------------------------- ingest

EVENT_TYPES = ("view", "click", "cart", "purchase", "refund")
T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def cdc_batch(seed: int, batch: int, n_rows: int, n_users: int) -> list[tuple]:
    """``n_rows`` CDC events ``(user_id, ts, event_id, event_type,
    value)`` for batch ``batch``. Event ids are globally unique; ts
    moves forward by batch with in-batch jitter, and every tenth row
    is late (an hour back), so the per-key (ts, event_id) merge has
    out-of-order work to do. Timestamps are whole microseconds."""
    r = rng(seed, f"cdc{batch}")
    rows = []
    base = T0 + dt.timedelta(minutes=10 * batch)
    for k in range(n_rows):
        late = dt.timedelta(hours=1) if k % 10 == 9 else dt.timedelta(0)
        ts = base + dt.timedelta(microseconds=r.randrange(600_000_000)) - late
        rows.append(
            (
                r.randrange(n_users),
                ts,
                batch * n_rows + k,
                r.choice(EVENT_TYPES),
                round(r.uniform(0, 500), 2),
            )
        )
    return rows


def fold_cdc(state: dict, rows: list[tuple]) -> None:
    """Pure-Python reference of the CDC merge: per user_id keep the
    row with the greatest (ts, event_id)."""
    for row in rows:
        cur = state.get(row[0])
        if cur is None or (row[1], row[2]) > (cur[1], cur[2]):
            state[row[0]] = row


# ---------------------------------------------------------------- files


def write_parquet(path: str, columns: dict, types: dict) -> int:
    """Write one parquet file; returns its size in bytes."""
    table = pa.table({k: pa.array(v, types[k]) for k, v in columns.items()})
    pq.write_table(table, path)
    return os.path.getsize(path)

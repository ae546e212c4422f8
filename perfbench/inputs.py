"""Seeded inputs for the two workloads, built in plain Python.

Everything here is a pure function of the seed and the size, so the same
seed always gives byte-identical inputs. The program under test only
ever receives what these functions return.
"""

from __future__ import annotations

import random
import string

from osmexpress_spark import testing
from osmexpress_spark.sources import pbf_codec

_ISO = "%Y-%m-%dT%H:%M:%SZ"

# --- OSM -------------------------------------------------------------------


def osm_rows(n_nodes: int, seed: int) -> dict[str, list]:
    """Table rows in the package's schemas (`testing.generate`)."""
    return testing.generate(n_nodes=n_nodes, seed=seed)


def _meta_fields(meta):
    version, ts, changeset, uid, user = meta
    return version, ts.strftime(_ISO), changeset, uid, user


def pbf_bytes(rows: dict[str, list]) -> bytes:
    """The rows as one ordered `.osm.pbf` file (nodes, ways, relations,
    ids ascending), encoded with the package's PBF codec. Its size is
    the input size that `space_amp` divides by."""
    tagged = {r[0]: r for r in rows["nodes"]}
    nodes = []
    for nid, lon, lat, version, _cell in sorted(rows["locations"]):
        t = tagged.get(nid)
        if t is None:
            nodes.append((nid, lon, lat, version, {}, None, 0, 0, ""))
        else:
            v, ts, cs, uid, user = _meta_fields(t[3])
            nodes.append((nid, lon, lat, v, t[1], ts, cs, uid, user))
    ways = [(w[0], w[1], *_reorder(w[4], w[2])) for w in sorted(rows["ways"])]
    rels = [(r[0], r[1], *_reorder(r[4], r[2])) for r in sorted(rows["relations"])]
    lons = [n[1] for n in nodes]
    lats = [n[2] for n in nodes]
    out = bytearray(
        pbf_codec.frame_blob(
            "OSMHeader",
            pbf_codec.encode_header_block(
                bbox=(min(lons), min(lats), max(lons), max(lats))
            ),
        )
    )
    for kind, block in (("node", nodes), ("way", ways), ("relation", rels)):
        for frame in pbf_codec.iter_blob_frames(kind, block, 4000):
            out += frame
    return bytes(out)


def _reorder(meta, tags):
    version, ts, cs, uid, user = _meta_fields(meta)
    return version, tags, ts, cs, uid, user


def change_batches(rows: dict[str, list], n_batches: int, per_batch: int, seed: int):
    """Minutely OsmChange batches (`testing.generate_changes`)."""
    return testing.generate_changes(
        rows, n_batches=n_batches, per_batch=per_batch, seed=seed * 31 + 5
    )


# --- corpus ----------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in")  # text.STOPWORDS


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randrange(4, 9)))


def _doc(rng: random.Random) -> str:
    """A document that passes the Gopher gates. It ends in its last word
    twice, so appending that word once more keeps its set of word
    2-shingles (the planted near-duplicate form). Words are random
    strings, so unrelated documents share no shingles."""
    words = [_word(rng) for _ in range(rng.randrange(26, 40))]
    for sw, pos in zip(rng.sample(STOPWORDS, 3), rng.sample(range(2, 20), 3)):
        words.insert(pos, sw)
    words.append(words[-1])
    return " ".join(words)


def near_dup(text: str) -> str:
    """Not byte-identical, same 2-shingle set: MinHash sees Jaccard 1."""
    return text + " " + text.rsplit(" ", 1)[1]


def corpus(n_docs: int, seed: int) -> list[tuple[int, str]]:
    rng = random.Random(seed * 15485863 + 11)
    return [(i, _doc(rng)) for i in range(n_docs)]


def corpus_batches(base: list[tuple[int, str]], n_batches: int, size: int, seed: int):
    """Ingest batches with planted duplicates. Every batch has the same
    make-up, so only the text and the order change with the seed: 8%
    low-quality documents, 14% near-duplicates of documents already in
    the corpus, 12% near- or exact duplicates of another document of the
    same batch (pairs), the rest new; a fifth of the documents carry an
    image that is a perturbed sibling of a corpus image. No measured
    corpus backs these shares: they plant every kind of duplicate the
    pipeline removes while most of a batch survives. Each batch is a
    dict:

    - `docs`: [(doc_id, text)];
    - `low_quality`: ids that fail the Gopher gates;
    - `corpus_dups`: {new_id: corpus_id} near-duplicates of documents
      already in the corpus (the base corpus or an earlier batch's
      survivors);
    - `batch_pairs`: [(id_a, id_b)] same-batch duplicates, id_a < id_b;
    - `media`: {doc_id: image_id}; an odd image id is a perturbed sibling
      of image id - 1, which the corpus image store holds;
    - `survivors`: the ids the curation pipeline must keep.
    """
    rng = random.Random(seed * 32452843 + 17)
    known = [doc_id for doc_id, _ in base]
    texts = dict(base)
    siblings = list(range(len(base)))
    rng.shuffle(siblings)
    n_low, n_cdup, n_pair = round(0.08 * size), round(0.14 * size), round(0.06 * size)
    next_id = 1_000_000
    out = []
    for _ in range(n_batches):
        ids = list(range(next_id, next_id + size))
        next_id += size
        order = ids[:]
        rng.shuffle(order)
        low = sorted(order[:n_low])
        cdup_ids = order[n_low:n_low + n_cdup]
        pair_ids = order[n_low + n_cdup:n_low + n_cdup + 2 * n_pair]
        batch_texts = {}
        for doc_id in low:
            batch_texts[doc_id] = " ".join(_word(rng) for _ in range(rng.randrange(5, 12)))
        cdup = {}
        for doc_id in cdup_ids:
            cdup[doc_id] = rng.choice(known)
            batch_texts[doc_id] = near_dup(texts[cdup[doc_id]])
        pairs = []
        for a, b in zip(pair_ids[::2], pair_ids[1::2]):
            text = _doc(rng)
            batch_texts[a] = text
            batch_texts[b] = text if rng.random() < 0.5 else near_dup(text)
            pairs.append((min(a, b), max(a, b)))
        for doc_id in ids:
            if doc_id not in batch_texts:
                batch_texts[doc_id] = _doc(rng)
        media = {doc_id: 2 * (10 * len(base) + doc_id) for doc_id in ids}
        for doc_id in rng.sample(ids, min(len(siblings), size // 5)):
            media[doc_id] = 2 * siblings.pop() + 1
        dropped = set(low) | set(cdup) | {b for _, b in pairs}
        survivors = [d for d in ids if d not in dropped]
        texts.update(batch_texts)
        known.extend(survivors)
        out.append({
            "docs": [(d, batch_texts[d]) for d in ids], "low_quality": low,
            "corpus_dups": cdup, "batch_pairs": sorted(pairs), "media": media,
            "survivors": survivors,
        })
    return out


def corpus_probes(base, batches, per_batch: int, seed: int):
    """Single-document probes to run after each batch: [(doc_id, text,
    corpus_id or None)]. Half are near-duplicates of a document the
    signature store holds by then, half are new."""
    rng = random.Random(seed * 49979687 + 23)
    texts = dict(base)
    known = [doc_id for doc_id, _ in base]
    out = []
    for b, batch in enumerate(batches):
        texts.update(batch["docs"])
        known.extend(batch["survivors"])
        probes = []
        for j in range(per_batch):
            doc_id = 9_000_000 + b * 1000 + j
            if j % 2 == 0:
                src = rng.choice(known)
                probes.append((doc_id, near_dup(texts[src]), src))
            else:
                probes.append((doc_id, _doc(rng), None))
        out.append(probes)
    return out

"""Seeded input generator for the benchmark workloads.

Every table has the engine's fixed input shape
`(repo, path, commit, lang, content, content_sha256, doc_id)` and the
planted-defect shape of `graft.synth.FilesTable`:

- about 30% of rows in one hot org;
- lang NULL on 1/53 of rows, lang 'klingon' on 1/67, a path with
  spaces on 1/89, a corrupted sha256 on 1/97;
- 1/101 of rows duplicated (same key, so uniqueness groups appear);
- one org left out of the repo manifest (referential orphans).

The seed moves which rows carry each defect and which orgs are the hot
and the orphan org; the shares stay fixed. Text is drawn from a fixed
vocabulary: a base set of documents about 300 characters long, then
replicated with a per-copy suffix so no two rows share their sha256
input. Output is plain parquet written with pyarrow; the engine only
ever sees these files.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DOCS = 5000
LANGS = ["en", "fr", "es", "de", "zh"]
SOURCES = ["github", "gitlab", "bitbucket", "mirror"]
VOCAB = (
    "alpha beta gamma delta epsilon zeta theta kappa lambda sigma omega "
    "parse load store fetch merge split index query table column schema "
    "record value field stream batch commit snapshot lineage manifest "
    "pointer partition shuffle exchange join filter project aggregate "
    "sketch profile drift histogram bucket window state offset trigger "
    "source sink driver executor task stage job plan codegen footer "
    "checksum digest invariant violation rule pattern enum required "
    "unique orphan repo path lang content hash verify validate check "
    "north star layer engine spark scala python duckdb parquet arrow"
).split()

# Planted-defect moduli, as in graft.synth.FilesTable.
NULL_LANG, BAD_LANG, BAD_PATH, BAD_SHA, DUP = 53, 67, 89, 97, 101
HOT_SHARE = 0.3


def _base_docs(rng):
    """BASE_DOCS documents: (text, lang, source), text ~300 chars."""
    vocab = np.array(VOCAB)
    n_words = rng.integers(28, 72, size=BASE_DOCS)
    words = rng.integers(0, len(vocab), size=(BASE_DOCS, 72))
    texts = [" ".join(vocab[words[i, :n_words[i]]]) for i in range(BASE_DOCS)]
    langs = rng.choice(LANGS, size=BASE_DOCS, p=[0.5, 0.15, 0.15, 0.1, 0.1])
    sources = rng.choice(SOURCES, size=BASE_DOCS)
    return texts, langs, sources


def _mask(rng, n, modulus):
    """Exactly round(n / modulus) rows, at seed-chosen positions."""
    m = np.zeros(n, dtype=bool)
    m[rng.choice(n, size=max(1, round(n / modulus)), replace=False)] = True
    return m


def files_table(seed, rows, n_orgs):
    """One files table of `rows` rows (plus 1/101 duplicates), as a pyarrow
    Table, and the orphan org. Orgs are org00..org{n_orgs-1}; the seed
    picks the hot org and a different orphan org."""
    rng = np.random.default_rng(seed)
    texts, langs, sources = _base_docs(rng)
    orgs = [f"org{i:02d}" for i in range(n_orgs)]
    hot, orphan = rng.choice(n_orgs, size=2, replace=False)
    hot, orphan = orgs[hot], orgs[orphan]

    ids = np.arange(rows, dtype=np.int64)
    base = rng.integers(0, BASE_DOCS, size=rows)
    others = [o for o in orgs if o != hot]
    is_hot = _mask(rng, rows, 1 / HOT_SHARE)
    org_pick = rng.integers(0, len(others), size=rows)
    repo_pick = rng.integers(0, 7, size=rows)
    null_lang, bad_lang = _mask(rng, rows, NULL_LANG), _mask(rng, rows, BAD_LANG)
    bad_path, bad_sha = _mask(rng, rows, BAD_PATH), _mask(rng, rows, BAD_SHA)
    dup = _mask(rng, rows, DUP)

    repo, path, commit, lang, content, sha = [], [], [], [], [], []
    for i in range(rows):
        b = int(base[i])
        repo.append(f"{hot}/monorepo" if is_hot[i]
                    else f"{others[org_pick[i]]}/repo{repo_pick[i]}")
        path.append(f"bad path with space/doc_{i}" if bad_path[i]
                    else f"src/{sources[b]}/doc_{i}.{langs[b]}")
        commit.append(hashlib.md5(f"c{seed}:{i}".encode()).hexdigest()[:12])
        lang.append(None if null_lang[i] else "klingon" if bad_lang[i]
                    else str(langs[b]))
        text = f"{texts[b]} #{i}"
        content.append(text)
        sha.append(hashlib.sha256(
            (text + "CORRUPT" if bad_sha[i] else text).encode()).hexdigest())
    table = pa.table({
        "repo": repo, "path": path, "commit": commit,
        "lang": pa.array(lang, pa.string()), "content": content,
        "content_sha256": sha, "doc_id": pa.array(ids, pa.int64())})
    dups = table.filter(pa.array(dup))
    return pa.concat_tables([table, dups]), orphan


def write_files(table, directory, n_files):
    """Write `table` as `n_files` parquet files (one split each), in order."""
    os.makedirs(directory)
    step = -(-table.num_rows // n_files)
    for j in range(n_files):
        pq.write_table(table.slice(j * step, step),
                       os.path.join(directory, f"part-{j:05d}.parquet"))


def write_manifest(table, orphan, directory):
    """The repo manifest: every repo present, minus the orphan org's."""
    repos = sorted(set(r for r in table.column("repo").to_pylist()
                       if not r.startswith(orphan + "/")))
    os.makedirs(directory)
    pq.write_table(pa.table({"repo": repos}),
                   os.path.join(directory, "part-00000.parquet"))


def generate(out_dir, workload, seed, spec):
    """Generate the inputs of one workload into `out_dir`, atomically:
    a half-written directory from a killed run is never reused."""
    if os.path.isdir(out_dir):
        return
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "stream":
        # The stream's files are pre-written into a staging directory
        # and moved into the source directory on the arrival schedule.
        n = spec["rows_per_file"]
        table, _ = files_table(seed, spec["files"] * n, spec["orgs"])
        stage = os.path.join(tmp, "staged")
        os.makedirs(stage)
        for j in range(spec["files"]):
            pq.write_table(table.slice(j * n, n), os.path.join(stage, f"f{j:05d}.parquet"))
    else:
        table, orphan = files_table(seed, spec["rows"], spec["orgs"])
        write_files(table, os.path.join(tmp, "files"), spec["files"])
        write_manifest(table, orphan, os.path.join(tmp, "files.manifest"))
    os.rename(tmp, out_dir)

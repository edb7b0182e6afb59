"""Seeded inputs for the crawl workloads.

The crawl queries read one table, `documents` (doc_id, text, lang, source,
n_chars). `base_corpus` rebuilds a corpus with the shape of the repository's
documents fixture: 10 to 99 words drawn uniformly from a 30-word
vocabulary, English on about 40 % of rows, source `src<i % 20>`, and 5 % of
rows a copy of another row's text with " dup" appended (the near-duplicate
structure the assembly's clustering and election work on). The base corpus
is fixed; `seeded_rows` relabels the doc ids by a seeded bijection and
writes the rows in seeded order, so a seed changes which documents land in
the crawl carves and the refresh delta classes (`doc_id % 13/11/23/17/37`)
while texts, sizes, languages and duplicate structure stay the same.
"""
import os
import random

VOCAB = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.41, 0.14, 0.15, 0.15, 0.15)
BASE_SEED = 42
DUP_FRAC = 0.05


def base_corpus(n_docs):
    """[(doc_id, text, lang, source)] for doc ids 0..n_docs-1."""
    rng = random.Random(BASE_SEED)
    texts, langs = [], []
    for _ in range(n_docs):
        texts.append(" ".join(rng.choice(VOCAB)
                              for _ in range(rng.randint(10, 99))))
        langs.append(rng.choices(LANGS, LANG_WEIGHTS)[0])
    originals = list(texts)
    for i in range(n_docs):
        if rng.random() < DUP_FRAC:
            texts[i] = originals[rng.randrange(n_docs)] + " dup"
    return [(i, texts[i], langs[i], f"src{i % 20}") for i in range(n_docs)]


def relabel(n_docs, seed):
    """The seeded bijection old doc id -> new doc id, as a list."""
    ids = list(range(n_docs))
    random.Random(seed).shuffle(ids)
    return ids


def seeded_rows(n_docs, seed):
    """The base corpus with relabelled doc ids, in seeded row order."""
    new_id = relabel(n_docs, seed)
    rows = [(new_id[d], text, lang, src)
            for d, text, lang, src in base_corpus(n_docs)]
    random.Random(seed ^ 0x5EED).shuffle(rows)
    return rows


def write_documents(out_dir, n_docs, seed):
    """Write `<out_dir>/documents.parquet`; return its path."""
    import duckdb
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    con = duckdb.connect()
    # one thread: row order and file bytes depend only on the seed
    con.execute("SET threads = 1")
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)",
                    [(d, t, l, s, len(t)) for d, t, l, s in
                     seeded_rows(n_docs, seed)])
    con.execute(f"COPY (SELECT * FROM documents) TO '{path}' "
                "(FORMAT PARQUET)")
    con.close()
    return path

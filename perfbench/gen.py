"""Seeded input generators. The same seed gives byte-identical files;
the program under test only ever sees these files.

- pipeline_daily: G1-shaped raw CSV drops, one directory per day.
- curation: `documents` and `embeddings` parquet tables with the
  test-data schemas, plus the seeded order of the registry queries.
"""
import csv
import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are chosen so one run (set-up, a checked pass and the measured
# window) stays well inside the benchmark's time limit on a 4-core host.
PIPELINE = dict(first_rows=4000, incr_rows=2000, days=2,
                seen_frac=0.7, relative_frac=0.3, repeat_frac=0.1,
                short_frac=0.05)
CURATION = dict(docs=1000, vectors=1000, dim=64, clusters=10,
                near_dup_frac=0.15, exact_dup_frac=0.03, vocab=2000)

# The registry queries the curation workload runs (a fixed subset of the
# `dedup_*` and `sim_*` families; only their order depends on the seed).
CURATION_QUERIES = [
    "dedup_exact", "dedup_minhash_lsh", "dedup_groups",
    "sim_cosine_topk", "sim_kmeans",
]

START = dt.date(2024, 3, 1)
WORDS = """governo ministro eleicao congresso senado camara prefeitura estado
cidade policia justica tribunal economia mercado dolar inflacao juros banco
empresa emprego salario imposto reforma saude hospital vacina escola ensino
universidade estudante professor chuva calor frio enchente seca incendio
floresta ambiente clima energia petroleo gas agua transporte metro onibus
aviao aeroporto estrada transito acidente futebol campeonato time jogador
tecnico gol vitoria derrota empate final copa mundial olimpiada atleta
tecnologia internet celular aplicativo dados inteligencia artificial robo
ciencia pesquisa descoberta espaco satelite cultura cinema musica show
festival teatro livro artista novela serie internacional guerra paz acordo
presidente eleito crise protesto greve votacao lei projeto decisao anuncia
confirma investiga revela aprova rejeita suspende libera amplia reduz aumenta
""".split()
SECTIONS = ["politica", "economia", "esporte", "tecnologia", "mundo",
            "saude", "educacao", "pop-arte", "meio-ambiente", "ciencia"]
SHORT = ["Ao vivo", "Veja", "Video", "Enquete", "Fotos", "Resumo do dia"]


def picks(rng, n, frac):
    """Exactly round(n * frac) of range(n), chosen at random; fixed
    counts keep the amount of work the same from seed to seed."""
    return set(rng.sample(range(n), round(n * frac)))


def pipeline_inputs(root, seed, p=PIPELINE):
    """Raw drops under root/raw/dayNN/drop.csv and root/days.tsv."""
    rng = random.Random(seed)
    articles = []  # (path, title)

    def new_articles(day, count):
        short, reused = picks(rng, count, p["short_frac"]), picks(rng, count, 0.02)
        for i in range(count):
            if i in short:
                title = rng.choice(SHORT)
            elif i in reused and articles:
                title = rng.choice(articles)[1]
            else:
                title = " ".join(rng.choice(WORDS) for _ in range(rng.randint(4, 12)))
                title = title[0].upper() + title[1:]
            slug = "-".join(title.lower().split()[:4])
            path = (f"/{rng.choice(SECTIONS)}/noticia/{day:%Y/%m/%d}/"
                    f"{slug}-{seed % 1000}x{len(articles)}.ghtml")
            articles.append((path, title))
        return articles[-count:]

    days = []
    for d in range(p["days"]):
        day = START + dt.timedelta(days=d)
        if d == 0:
            todays = new_articles(day, p["first_rows"])
        else:
            seen = rng.sample(articles, round(p["incr_rows"] * p["seen_frac"]))
            todays = seen + new_articles(day, p["incr_rows"] - len(seen))
        relative = picks(rng, len(todays), p["relative_frac"])
        anchors = picks(rng, len(todays), 0.01)  # non-article links ingest drops
        rows = []
        for i, (path, title) in enumerate(todays):
            link = "#" if i in anchors else \
                path if i in relative else "https://g1.globo.com" + path
            at = dt.datetime.combine(day, dt.time(6)) + \
                dt.timedelta(seconds=rng.randrange(12 * 3600))
            rows.append((title, link, "G1", at.strftime("%Y-%m-%dT%H:%M:%S")))
        rows += rng.sample(rows, round(len(rows) * p["repeat_frac"]))
        rng.shuffle(rows)
        name = f"day{d + 1:02d}"
        os.makedirs(f"{root}/raw/{name}", exist_ok=True)
        with open(f"{root}/raw/{name}/drop.csv", "w", newline="",
                  encoding="utf-8") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(["title", "link", "source", "scraped_at"])
            w.writerows(rows)
        days.append(f"{name}\t{day.isoformat()}")
    with open(f"{root}/days.tsv", "w") as f:
        f.write("\n".join(days) + "\n")


def curation_inputs(root, seed, p=CURATION):
    """root/corpus/{documents,embeddings}.parquet and root/queries.txt."""
    rng = random.Random(seed)
    rs = np.random.RandomState(seed)
    vocab = [w + str(i // len(WORDS) or "") for i, w in
             enumerate(WORDS * (p["vocab"] // len(WORDS) + 1))][:p["vocab"]]
    zipf = 1.0 / np.arange(1, len(vocab) + 1)
    zipf /= zipf.sum()
    n = p["docs"]
    exact = picks(rng, n - 1, p["exact_dup_frac"])
    near = picks(rng, n - 1, p["exact_dup_frac"] + p["near_dup_frac"]) - exact
    originals, texts = [], []
    for i in range(n):
        if i - 1 in exact:
            texts.append(rng.choice(originals))
        elif i - 1 in near:  # an original with a few words replaced
            words = rng.choice(originals).split()
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = vocab[rs.choice(len(vocab), p=zipf)]
            texts.append(" ".join(words))
        else:
            originals.append(" ".join(vocab[w] for w in rs.choice(
                len(vocab), rng.randint(8, 60), p=zipf)))
            texts.append(originals[-1])
    langs = ["en", "en", "de", "es", "fr", "zh"]
    os.makedirs(f"{root}/corpus", exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(langs) for _ in texts], pa.string()),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in texts],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{root}/corpus/documents.parquet")
    centers = rs.normal(size=(p["clusters"], p["dim"]))
    label = np.arange(p["vectors"]) % p["clusters"]
    rs.shuffle(label)
    vecs = (centers[label] + 0.35 * rs.normal(size=(p["vectors"], p["dim"])))
    pq.write_table(pa.table({
        "vec_id": pa.array(range(p["vectors"]), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32"), pa.int32()),
    }), f"{root}/corpus/embeddings.parquet")
    order = CURATION_QUERIES[:]
    rng.shuffle(order)
    with open(f"{root}/queries.txt", "w") as f:
        f.write("\n".join(order) + "\n")


GENERATORS = {"pipeline_daily": pipeline_inputs,
              "curation": curation_inputs}

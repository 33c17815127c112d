"""Fit the learned language-ID classifier and freeze its weights.

Reads the sf0.1 ``documents`` corpus, labels it with the stopword-vote
heuristic (the teacher — the corpus's own ``lang`` column is an
independent random label carrying no text signal), mixes in
deterministic per-language synthetic documents built from each
language's stopword inventory, fits ``pyspark.ml`` multinomial
LogisticRegression on mean-pooled hashed char-3-gram features, folds
each class intercept, quantizes to signed 16-bit fixed point on ONE
shared scale, and (re)writes ``queries/langid_weights.py`` — the
literal weight tables the serving query and its DuckDB oracle both
decode. Evaluates on fresh-salt synthetic docs per language before
writing.

Usage: python scripts/train_langid.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.ml import (  # noqa: E402
    langid_train as lt,
    qclf_train as qt,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    import duckdb

    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.functions.text import (
        STOPWORDS,
    )
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.session import get_spark

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    real_texts = [r[0] for r in rows]
    # teacher labels from the Python twin of the heuristic (pinned
    # against the Spark expression by tests/test_langid.py)
    real_labels = [lt.heuristic_label(t, STOPWORDS) for t in real_texts]

    langs = sorted(STOPWORDS)
    syn_texts, syn_labels = [], []
    for lang in langs:
        for i in range(lt.TRAIN_SYN_N):
            syn_texts.append(
                lt.synthetic_doc(lang, i, lt.TRAIN_SYN_SALT, STOPWORDS)
            )
            syn_labels.append(lang)

    cut = int(len(real_texts) * 0.8)
    train_texts = real_texts[:cut] + syn_texts
    train_labels = real_labels[:cut] + syn_labels

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    weights_fp, fp_scale, metrics = lt.fit_weights(
        spark, train_texts, train_labels
    )
    spark.stop()

    # held-out: teacher agreement on unseen real docs + fresh-salt
    # synthetic accuracy per language (generalization, not memorization)
    ho_texts, ho_labels = real_texts[cut:], real_labels[cut:]
    ho_agree = sum(
        lt.score_fp(t, weights_fp) == lab
        for t, lab in zip(ho_texts, ho_labels)
    ) / len(ho_texts)
    syn_acc = {}
    for lang in langs:
        fresh = [
            lt.synthetic_doc(lang, i, "langid-eval-syn", STOPWORDS)
            for i in range(100)
        ]
        syn_acc[lang] = sum(
            lt.score_fp(t, weights_fp) == lang for t in fresh
        ) / len(fresh)

    print(f"train acc (fp ints):        {metrics['train_acc_fp']:.4f}")
    print(f"held-out teacher agreement: {ho_agree:.4f}  (n={len(ho_texts)})")
    for lang in langs:
        print(f"fresh-salt syn acc [{lang}]:    {syn_acc[lang]:.4f}")
    print(f"fp_scale={fp_scale} langs={langs}")

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "mgl870_tp02_project_01_hadoopmapreducelogs_spark",
        "queries",
        "langid_weights.py",
    )
    syn_line = " ".join(f"{l}={syn_acc[l]:.2f}" for l in langs)
    with open(out, "w") as fh:
        fh.write(
            '"""Frozen language-ID weights — GENERATED, do not '
            "hand-edit.\n\nProduced by scripts/train_langid.py on "
            f"{os.path.basename(sf_dir)}:\npyspark.ml multinomial "
            f"LogisticRegression (L2 {lt.REG_PARAM:g}, LBFGS) on mean-pooled\n"
            "1024-bucket hashed char-3-grams; real docs labeled by the "
            "stopword-vote\nheuristic (teacher) plus "
            f"{lt.TRAIN_SYN_N}/lang deterministic synthetic docs;\n"
            "per-class intercept folded into every bucket; ONE shared "
            "signed-16-bit\nfixed-point scale (the argmax compares "
            "across classes); offset-binary hex.\n"
            f"Held-out: teacher_agreement={ho_agree:.4f} "
            f"fresh_synthetic_acc: {syn_line}\n"
            '"""\n\n'
            "#: shared fixed-point scale: w_fp / LANGID_FP_SCALE is "
            "the folded\n#: float weight the LR learned\n"
            f"LANGID_FP_SCALE = {fp_scale}\n\n"
            f"#: per-language {lt.N_BUCKETS} signed-16-bit weights, 4 "
            "hex digits each\n#: (value = digits - 32768), bucket "
            "order; KEY ORDER IS THE ARGMAX\n#: TIE-BREAK ORDER "
            "(language code ascending)\n"
            "LANGID_WEIGHTS_HEX = {  # noqa: E501\n"
        )
        for lang in langs:
            hexstr = qt.encode_hex(weights_fp[lang], lt.N_BUCKETS)
            fh.write(f'    "{lang}": (\n')
            for i in range(0, len(hexstr), 64):
                fh.write(f'        "{hexstr[i:i + 64]}"\n')
            fh.write("    ),\n")
        fh.write("}\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

"""Train the linear quality-classifier weight table — the artifact the
batch pipeline's ``--clf-weights`` consumes (train offline on labeled
docs, gate at curate time: the same artifact split as the bigram-LM's
``--lm-dir``).

Usage:
    python -m mapreduce_stockheadlines_spark.jobs.train_classifier \
        LABELED_PARQUET OUT_DIR [--id-col doc_id] [--text-col text] \
        [--label-col label] [--iters 20] [--lr 2.0] [--l2 0.0] \
        [--min-df 2]

``LABELED_PARQUET`` needs (id, text, 0/1 label) columns — e.g. curated
wiki docs labeled 1 unioned with raw crawl labeled 0, the CCNet/DCLM
recipe. ``OUT_DIR`` receives 'token<TAB>weight' rows (TSV part files;
``--clf-weights OUT_DIR`` reads the directory as written).
"""

from __future__ import annotations

import argparse

from ..operators.textstats import train_classifier
from ..session import get_spark


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("labeled", help="parquet of (id, text, label) docs")
    ap.add_argument("out", help="output dir for token<TAB>weight TSV")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--label-col", default="label")
    ap.add_argument("--iters", type=int, default=20)
    ap.add_argument("--lr", type=float, default=2.0)
    ap.add_argument("--l2", type=float, default=0.0)
    ap.add_argument("--min-df", type=int, default=2)
    args = ap.parse_args(argv)

    spark = get_spark("train-classifier")
    docs = spark.read.parquet(args.labeled)
    weights = train_classifier(
        docs,
        args.id_col,
        args.text_col,
        args.label_col,
        n_iters=args.iters,
        lr=args.lr,
        l2=args.l2,
        min_df=args.min_df,
    )
    (
        weights.write.mode("overwrite")
        .option("sep", "\t")
        .csv(args.out)
    )
    print(f"wrote {weights.count()} weights to {args.out}")


if __name__ == "__main__":
    main()

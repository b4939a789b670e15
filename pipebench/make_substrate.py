"""Extract the play substrate the export generator maps from.

The benchmark may read only files inside its own checkout, so the
columns it needs from a TPC-H-shaped test set are frozen into
``data/sf0.01_plays.parquet`` once, with this script:

    python3 pipebench/make_substrate.py <dir holding lineitem.parquet and orders.parquet>

One row per lineitem, joined to its order: order -> listener,
``l_partkey`` -> track, ``l_suppkey`` -> artist, ``o_orderdate`` -> day
of the play, ``l_quantity`` -> play length (see export.py).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd

OUT = Path(__file__).resolve().parent / "data" / "sf0.01_plays.parquet"


def main(sf_dir: str) -> None:
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"],
    )
    orders = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey", "o_orderdate"]
    )
    plays = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    plays = pd.DataFrame(
        {
            "orderkey": plays.l_orderkey.astype("int32"),
            "linenumber": plays.l_linenumber.astype("int8"),
            "custkey": plays.o_custkey.astype("int32"),
            "partkey": plays.l_partkey.astype("int32"),
            "suppkey": plays.l_suppkey.astype("int16"),
            "quantity": plays.l_quantity.astype("int16"),
            "day": plays.o_orderdate.dt.strftime("%Y-%m-%d"),
        }
    ).sort_values(["orderkey", "linenumber"], ignore_index=True)
    OUT.parent.mkdir(parents=True, exist_ok=True)
    plays.to_parquet(OUT, index=False, compression="zstd")
    print(f"{len(plays)} plays -> {OUT} ({OUT.stat().st_size} bytes)")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: make_substrate.py <tpch sf dir>")
    main(sys.argv[1])

"""Regenerate fixtures/pdflike{,_stream,_ocr,_standard}_expected.parquet —
the pinned oracle tables for the pdflike correctness-gate queries.

Run after ANY change to the pdflike parse semantics or synthdocs generator:

    python tools/gen_pdflike_expected.py [max_doc_id]

Covers doc_ids [0, 5000) by default (superset of every testdata sf dir);
the oracle SQL joins against the ``documents`` view so extra rows are
harmless.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")


def main(max_doc_id: int = 5000) -> None:
    from bella_domify_spark.parsers.pdflike.gate import (
        expected_frame,
        gate_record,
        gate_record_ocr,
        gate_record_standard,
        gate_record_stream,
    )

    for record_fn, name in ((gate_record, "pdflike_expected"),
                            (gate_record_stream, "pdflike_stream_expected"),
                            (gate_record_ocr, "pdflike_ocr_expected"),
                            (gate_record_standard,
                             "pdflike_standard_expected")):
        out = os.path.join(FIXTURES, f"{name}.parquet")
        df = expected_frame(record_fn, max_doc_id)
        bad = df[df["status"] != "ok"]
        if len(bad):
            raise SystemExit(f"{len(bad)} gate payloads failed to parse: "
                             f"{bad.head(3).to_dict('records')}")
        df.to_parquet(out, index=False)
        print(f"wrote {len(df)} rows to {out} "
              f"({os.path.getsize(out) / 1e6:.1f} MB)")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 5000)

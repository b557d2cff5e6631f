"""Image-provider seam (S5/F10): stub determinism, the >28 px OCR gate,
error tolerance, and the threading into Figure markdown
(domtree.py:239-242), domtree JSON, and flat-layout ocr_result
(simple_block.py:25-38, pic_parser.py:20-29). Pure Python — no Spark."""

import json

from bella_domify_spark.parsers import layout_flat
from bella_domify_spark.parsers.pdflike import glyphdoc, pipeline
from bella_domify_spark.providers import (
    ImageStorageProvider,
    StubImageProvider,
)
from bella_domify_spark.synthdocs import _Typesetter

META = {"bbox": [10.0, 10.0, 110.0, 60.0], "n_bytes": 15000, "sha": "ab12cd34ef56ab78"}


class TestStubProvider:
    def test_deterministic_url_and_ocr(self):
        p = StubImageProvider()
        url1, ocr1 = p.get_pic_url_and_ocr(dict(META))
        url2, ocr2 = p.get_pic_url_and_ocr(dict(META))
        assert (url1, ocr1) == (url2, ocr2)
        assert url1 == "stub://images/ab12cd34ef56ab78"   # sha content-address
        assert ocr1 == "[stub-ocr 100x50 15000B ab12cd34]"

    def test_upload_without_sha_hashes_metadata(self):
        p = StubImageProvider()
        meta = {"bbox": [0.0, 0.0, 40.0, 40.0], "n_bytes": 4800}
        url, ocr = p.get_pic_url_and_ocr(meta)
        assert url.startswith("stub://images/") and len(url.split("/")[-1]) == 16
        assert ocr.startswith("[stub-ocr 40x40 4800B ")

    def test_size_gate_requires_both_dims_over_28(self):
        # image_provider.py:28-44: strictly GREATER than min_size
        p = StubImageProvider()
        for bbox, expect_ocr in (
            ([0, 0, 28.0, 100.0], False),   # width == 28 -> too small
            ([0, 0, 100.0, 28.0], False),
            ([0, 0, 28.5, 28.5], True),
            ([0, 0, 20.0, 20.0], False),
        ):
            url, ocr = p.get_pic_url_and_ocr({"bbox": bbox, "n_bytes": 1})
            assert url.startswith("stub://images/")
            assert bool(ocr) is expect_ocr, bbox

    def test_errors_swallowed_like_reference(self):
        # unreadable metadata behaves like a PIL open failure: url still
        # produced (upload succeeded), ocr empty — never raises
        p = StubImageProvider()
        for meta in (None, {}, {"bbox": "garbage"}, {"bbox": [1]}):
            url, ocr = p.get_pic_url_and_ocr(meta)
            assert url.startswith("stub://images/")
            assert ocr == ""

    def test_abstract_ocr_is_a_network_seam(self):
        # a storage-only provider (no ocr override) swallows the
        # NotImplementedError into empty OCR, mirroring the reference's
        # except path around llm_image2text
        class StorageOnly(ImageStorageProvider):
            def upload(self, image):
                return "k"

            def download(self, file_key):
                return f"s3://bucket/{file_key}"

        url, ocr = StorageOnly().get_pic_url_and_ocr(dict(META))
        assert url == "s3://bucket/k"
        assert ocr == ""


def _payload_with_images() -> str:
    ts = _Typesetter()
    ts.paragraph("Some flowing text appears before the pictures arrive here.")
    ts.image(72.0, ts.y, 120.0, 60.0)            # inline image span
    ts.y += 70.0
    ts.image_block(72.0, ts.y, 200.0, 100.0)     # standalone type-1 block
    ts.y += 108.0
    ts.line("Figure 1 example caption", 72.0)
    ts.y += 6.0
    ts.image_block(72.0, ts.y, 20.0, 20.0)       # below the OCR minimum
    ts.y += 30.0
    ts.paragraph("And a closing paragraph after all of the images end.")
    return ts.finalize()


class TestPipelineThreading:
    def test_type1_block_becomes_image_line(self):
        pages = glyphdoc.load(_payload_with_images())
        image_lines = [l for p in pages for l in p.lines if l.has_image]
        metas = [next(s for s in l.spans if s.is_image).image_meta
                 for l in image_lines]
        assert len(image_lines) == 3
        assert all(m and "n_bytes" in m and "sha" in m for m in metas)
        # deterministic content-address: 200x100 RGB
        assert any(m["n_bytes"] == 60000 for m in metas)

    def test_markdown_without_provider_keeps_placeholders(self):
        md = pipeline.parse(_payload_with_images()).to_markdown()
        assert "stub://" not in md
        assert "![Figure](" not in md

    def test_markdown_with_provider_links_and_quotes(self):
        tree = pipeline.parse(_payload_with_images(),
                              image_provider=StubImageProvider())
        md = tree.to_markdown()
        assert md.count("![Figure](stub://images/") == 3
        # big images carry quoted stub OCR; the 20x20 one quotes emptiness
        assert "> [stub-ocr 200x100 60000B " in md
        assert "> [stub-ocr 120x60 21600B " in md
        assert "\n> \n" in md

    def test_domtree_json_pins_image_metadata(self):
        # P25 placeholder fidelity: Figure nodes expose bbox + byte-payload
        # metadata even WITHOUT a provider (ImageSpanExtend fields)
        dom = json.loads(pipeline.parse(_payload_with_images()).to_json())

        def walk(node, out):
            el = node.get("element")
            if el and el.get("block_type") == "image":
                out.append(el)
            for ch in node.get("child", []):
                walk(ch, out)
            return out

        images = walk(dom["root"], [])
        assert len(images) == 3
        for el in images:
            assert el["image"]["n_bytes"] > 0
            assert len(el["image"]["sha"]) == 16
            assert len(el["image"]["bbox"]) == 4
            assert "image_link" not in el     # provider did not run

    def test_domtree_json_carries_provider_results(self):
        dom = json.loads(pipeline.parse(
            _payload_with_images(),
            image_provider=StubImageProvider()).to_json())
        blob = json.dumps(dom)
        assert blob.count("stub://images/") >= 3
        assert '"ocr_result"' in blob


class TestLayoutThreading:
    def test_image_blocks_carry_meta(self):
        blocks = layout_flat.layout_parse(_payload_with_images())
        images = [b for b in blocks if b.type == layout_flat.IMAGE]
        # only type-1 blocks are layout IMAGEs (pdf_parser.py:53-54);
        # image SPANS inside text blocks are not
        assert len(images) == 2
        assert all(b.image_meta and "sha" in b.image_meta for b in images)
        assert all(b.ocr_text == "" and b.text == "" for b in images)

    def test_provider_sets_url_and_ocr(self):
        blocks = layout_flat.layout_parse(_payload_with_images(),
                                          image_provider=StubImageProvider())
        images = [b for b in blocks if b.type == layout_flat.IMAGE]
        big = next(b for b in images if b.image_meta["n_bytes"] == 60000)
        small = next(b for b in images if b.image_meta["n_bytes"] != 60000)
        assert big.text.startswith("stub://images/")
        assert big.ocr_text.startswith("[stub-ocr 200x100 60000B ")
        assert small.text.startswith("stub://images/")
        assert small.ocr_text == ""                       # 20x20: gate
        # flat text folds the OCR result for IMAGE blocks
        # (layout_parse_utils.py:100-107)
        flat = layout_flat.flat_text(blocks)
        assert "；[stub-ocr 200x100 60000B " in flat

    def test_get_result_shape_matches_reference(self):
        # simple_block.py:25-31: exactly these four keys
        blocks = layout_flat.layout_parse(_payload_with_images(),
                                          image_provider=StubImageProvider())
        for b in blocks:
            assert set(b.get_result()) == {"text", "ocr_result", "type",
                                           "page_num"}


class TestEngineThreading:
    def test_extract_transcripts_with_provider_name(self, spark):
        # the provider travels BY NAME (context.py registry) so it resolves
        # inside python workers — the parser_context analogue
        from bella_domify_spark.engine.extract import extract_transcripts

        payload = _payload_with_images()
        df = spark.createDataFrame(
            [(1, 0, "user", payload, None, None)],
            "conv_id long, turn_idx int, role string, text string, "
            "tool string, ts timestamp")
        plain = extract_transcripts(df).collect()[0]["extracted_text"]
        assert "stub://" not in plain
        with_ocr = extract_transcripts(df, ocr_provider="stub") \
            .collect()[0]["extracted_text"]
        assert with_ocr.count("![Figure](stub://images/") == 3
        assert "> [stub-ocr 200x100 60000B " in with_ocr

    def test_fused_sink_threads_provider(self, spark, tmp_path):
        from bella_domify_spark.engine.manifest import run_resumable

        payload = _payload_with_images()
        df = spark.createDataFrame(
            [(i, 0, "user", payload, None, None) for i in range(4)],
            "conv_id long, turn_idx int, role string, text string, "
            "tool string, ts timestamp")
        out = str(tmp_path / "ocr_out")
        run_resumable(df, out, n_buckets=4, partitions=2,
                      ocr_provider="stub")
        got = spark.read.parquet(f"{out}/bucket-*.parquet").collect()
        assert len(got) == 4
        assert all("![Figure](stub://images/" in r["extracted_text"]
                   for r in got)

    def test_unknown_provider_name_fails_loud(self):
        import pytest

        from bella_domify_spark.context import image_provider

        assert image_provider(None) is None
        with pytest.raises(ValueError, match="unknown image provider"):
            image_provider("nope")

    def test_register_custom_provider(self):
        from bella_domify_spark import context

        context.register_image_provider(
            "stub2", "bella_domify_spark.providers", "StubImageProvider")
        try:
            p = context.image_provider("stub2")
            assert p.download("k") == "stub://images/k"
            assert context.image_provider("stub2") is p   # per-process cache
        finally:
            context.IMAGE_PROVIDERS.pop("stub2", None)
            context._instances.pop("stub2", None)

    def test_resume_pins_parse_parameters(self, spark, tmp_path):
        # resuming an out_dir with a different ocr_provider (or n_buckets)
        # would commit inconsistently-parsed buckets next to the old ones
        # — the params file pins the first run's choice and resumes fail
        # loud on mismatch
        import json
        import os

        import pytest

        from bella_domify_spark.engine.manifest import run_resumable

        df = spark.createDataFrame(
            [(i, 0, "user", "plain text", None, None) for i in range(6)],
            "conv_id long, turn_idx int, role string, text string, "
            "tool string, ts timestamp")
        out = str(tmp_path / "pin_out")
        run_resumable(df, out, n_buckets=4, partitions=2)
        params = json.load(open(os.path.join(out, "_manifests",
                                             "_run_params.json")))
        assert params == {"ocr_provider": None, "n_buckets": 4,
                          "custom_bucket": False}

        with pytest.raises(ValueError, match="resume parameter mismatch"):
            run_resumable(df, out, n_buckets=4, partitions=2,
                          ocr_provider="stub")
        with pytest.raises(ValueError, match="resume parameter mismatch"):
            run_resumable(df, out, n_buckets=8, partitions=2)
        # identical params: plain resume no-op
        s = run_resumable(df, out, n_buckets=4, partitions=2)
        assert s["buckets_written"] == 0

        # legacy layout (no params file): a provider-less resume heals it,
        # a provider resume cannot prove consistency and must refuse
        os.remove(os.path.join(out, "_manifests", "_run_params.json"))
        with pytest.raises(ValueError, match="pre-params layout"):
            run_resumable(df, out, n_buckets=4, partitions=2,
                          ocr_provider="stub")
        run_resumable(df, out, n_buckets=4, partitions=2)
        assert os.path.exists(os.path.join(out, "_manifests",
                                           "_run_params.json"))


class TestWatermarkRemoval:
    # P26 stand-in (converter.py:229-244): a Watermark-subtype artifact
    # triggers removal of EVERY artifact block on the page; without one
    # the reference returns early and artifacts survive — quirk pinned.
    def _doc(self, with_watermark: bool) -> str:
        ts = _Typesetter()
        ts.paragraph("Body text that must always survive the cleanup pass.")
        if with_watermark:
            ts.artifact("CONFIDENTIAL", "Watermark")
        ts.artifact("DRAFT", "Stamp", x0=400.0, y0=60.0, size=20.0)
        return ts.finalize()

    def test_watermark_strips_all_artifacts(self):
        md = pipeline.parse(self._doc(with_watermark=True)).to_markdown()
        assert "CONFIDENTIAL" not in md
        assert "DRAFT" not in md           # every artifact goes
        assert "must always survive" in md

    def test_artifacts_survive_without_watermark(self):
        md = pipeline.parse(self._doc(with_watermark=False)).to_markdown()
        assert "DRAFT" in md               # reference early-return quirk
        assert "must always survive" in md

"""Pure-stdlib image codec (parsers/image_codec.py) + the multimodal
operators it powers. Real-file cases use the reference's example-docs
image fixtures."""

import struct
from pathlib import Path

import pytest

from tests.fixtures import make_tiff, needs
from unstructured_spark.operators.multimodal import probe_bytes
from unstructured_spark.parsers.image_codec import (
    ImageDecodeError,
    decode_bmp,
    decode_gif,
    decode_image,
    decode_png,
    encode_png,
    luminance_histogram,
    resize_nearest,
)

DOCS = Path("/root/reference/example-docs")


def _gradient_rgb(w: int, h: int) -> bytearray:
    px = bytearray()
    for y in range(h):
        for x in range(w):
            px += bytes([(x * 7) % 256, (y * 11) % 256, (x * y) % 256])
    return px


def _tiny_gif(pixels: list[int], w: int, h: int) -> bytes:
    """Hand-build a GIF89a with a 4-color table; LZW stream emits a
    clear code before every literal so all codes stay 3-bit."""
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x81, 0, 0])  # GCT flag, 2-bit color resolution, 4 entries
    out += bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])  # K R G B
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out += bytes([2])  # LZW min code size
    codes = []
    for p in pixels:
        codes += [4, p]  # clear, literal
    codes.append(5)  # end
    bits = buf = nbits = 0
    stream = bytearray()
    for c in codes:
        buf |= c << nbits
        nbits += 3
        while nbits >= 8:
            stream.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8
    if nbits:
        stream.append(buf & 0xFF)
    out += bytes([len(stream)]) + stream + b"\x00" + b"\x3b"
    return bytes(out)


class TestPngRoundTrip:
    @pytest.mark.parametrize("channels", [1, 2, 3, 4])
    def test_encode_decode_identity(self, channels):
        w, h = 13, 9
        px = bytearray((x * 31 + 7 * c) % 256 for x in range(w * h) for c in range(channels))
        data = encode_png(w, h, channels, px)
        w2, h2, c2, px2 = decode_png(data)
        assert (w2, h2, c2) == (w, h, channels)
        assert px2 == px

    @needs(DOCS / "img" / "DA-1p.png")
    def test_real_reference_png(self):
        raw = (DOCS / "img" / "DA-1p.png").read_bytes()
        meta = probe_bytes(raw)
        w, h, c, px = decode_png(raw)
        assert (w, h) == (meta["width"], meta["height"])
        assert len(px) == w * h * c

    @needs(DOCS / "img" / "english-and-korean.png")
    def test_second_reference_png(self):
        raw = (DOCS / "img" / "english-and-korean.png").read_bytes()
        meta = probe_bytes(raw)
        w, h, c, px = decode_image(raw)
        assert (w, h) == (meta["width"], meta["height"])
        assert len(px) == w * h * c


class TestBmp:
    @needs(DOCS / "img" / "bmp_24.bmp")
    def test_real_reference_bmp(self):
        raw = (DOCS / "img" / "bmp_24.bmp").read_bytes()
        meta = probe_bytes(raw)
        w, h, c, px = decode_bmp(raw)
        assert (w, h) == (meta["width"], meta["height"])
        assert c == 3 and len(px) == w * h * 3


class TestGif:
    def test_tiny_gif_pixels(self):
        data = _tiny_gif([0, 1, 2, 3], 2, 2)
        w, h, c, px = decode_gif(data)
        assert (w, h, c) == (2, 2, 3)
        # palette: black, red, green, blue
        assert bytes(px) == bytes(
            [0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255]
        )


class TestJpeg:
    @needs(DOCS / "img" / "example.jpg")
    def test_baseline_420_decodes(self):
        raw = (DOCS / "img" / "example.jpg").read_bytes()
        meta = probe_bytes(raw)
        w, h, c, px = decode_image(raw)
        assert (w, h, c) == (meta["width"], meta["height"], 3)
        assert len(px) == w * h * 3

    @needs(DOCS / "img" / "jpn-vert.jpeg")
    def test_grayscale_decodes(self):
        raw = (DOCS / "img" / "jpn-vert.jpeg").read_bytes()
        w, h, c, px = decode_image(raw)
        assert (w, h, c) == (169, 350, 1)

    @needs(DOCS / "img" / "DA-1p.png", DOCS / "img" / "DA-1p.jpg")
    def test_cross_format_parity_with_png(self):
        """The reference ships the same page as PNG (lossless) and JPEG
        (lossy 4:4:4). Two fully independent decoders must agree to
        within JPEG quantization error — this pins the whole
        Huffman/dequant/IDCT/color path."""
        import numpy as np

        from unstructured_spark.parsers.image_codec import decode_jpeg, decode_png

        pw, ph, pc, ppx = decode_png((DOCS / "img" / "DA-1p.png").read_bytes())
        jw, jh, jc, jpx = decode_jpeg((DOCS / "img" / "DA-1p.jpg").read_bytes())
        assert (pw, ph) == (jw, jh)
        pa = np.frombuffer(bytes(ppx), np.uint8).reshape(ph, pw, pc)[:, :, :3]
        ja = np.frombuffer(bytes(jpx), np.uint8).reshape(jh, jw, 3)
        mad = np.abs(pa.astype(float) - ja.astype(float)).mean()
        assert mad < 1.0, f"mean abs pixel diff {mad}"

    def test_progressive_gate(self):
        # minimal stream with SOF2 marker -> explicit gate
        sof2 = b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00"
        with pytest.raises(ImageDecodeError, match="progressive"):
            decode_image(sof2)


class TestTransforms:
    def test_resize_nearest(self):
        w, h = 8, 6
        px = _gradient_rgb(w, h)
        small = resize_nearest(w, h, 3, px, 4, 3)
        assert len(small) == 4 * 3 * 3
        # corner pixel preserved by nearest-neighbor
        assert small[:3] == px[:3]

    def test_luminance_histogram_normalized(self):
        px = _gradient_rgb(16, 16)
        hist = luminance_histogram(16, 16, 3, px, bins=8)
        assert len(hist) == 8
        assert sum(hist) == pytest.approx(1.0)


class TestSparkOperators:
    @needs(DOCS / "img" / "example.jpg")
    def test_decode_image_features_real_pixels(self, spark):
        from unstructured_spark.operators.multimodal import decode_image_features

        png = encode_png(4, 4, 3, _gradient_rgb(4, 4))
        jpeg = (DOCS / "img" / "example.jpg").read_bytes()
        df = spark.createDataFrame(
            [("png", bytearray(png)), ("jpg", bytearray(jpeg)), ("bad", bytearray(b"xx"))],
            "doc_id string, content binary",
        )
        out = {r["doc_id"]: r["features"] for r in decode_image_features(df).collect()}
        assert out["png"] is not None and sum(out["png"]) == pytest.approx(1.0, abs=1e-4)
        assert out["jpg"] is not None and sum(out["jpg"]) == pytest.approx(1.0, abs=1e-4)
        assert out["bad"] is None  # per-row isolation

    def test_resize_images_roundtrip(self, spark):
        from unstructured_spark.operators.multimodal import resize_images

        png = encode_png(10, 10, 3, _gradient_rgb(10, 10))
        df = spark.createDataFrame([("d", bytearray(png))], "doc_id string, content binary")
        thumb = resize_images(df, new_width=5, new_height=5).first()["thumbnail"]
        w, h, c, px = decode_png(bytes(thumb))
        assert (w, h, c) == (5, 5, 3)


class TestGifLzwTableGrowth:
    """The tiny-GIF case clears the table per pixel; this one exercises
    real LZW table growth + code-size bumps with a spec-faithful
    encoder built in the test."""

    @staticmethod
    def _lzw_encode(min_code_size: int, indices: list[int]) -> bytes:
        clear, end = 1 << min_code_size, (1 << min_code_size) + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code = end + 1
        code_size = min_code_size + 1
        out_codes = [clear]
        w = b""
        for k in indices:
            wk = w + bytes([k])
            if wk in table:
                w = wk
            else:
                out_codes.append(table[w])
                table[wk] = next_code
                next_code += 1
                w = bytes([k])
        if w:
            out_codes.append(table[w])
        out_codes.append(end)
        # pack LSB-first with the same growth rule decoders use: the
        # code size bumps when next_code exceeds the current code range
        stream = bytearray()
        buf = nbits = 0
        size = min_code_size + 1
        count = end + 1
        for c in out_codes:
            buf |= c << nbits
            nbits += size
            while nbits >= 8:
                stream.append(buf & 0xFF)
                buf >>= 8
                nbits -= 8
            if c == clear:
                size = min_code_size + 1
                count = end + 1
            else:
                count += 1
                if count > (1 << size) and size < 12:
                    size += 1
        if nbits:
            stream.append(buf & 0xFF)
        return bytes(stream)

    def test_repeating_pattern_roundtrip(self):
        import struct as _struct

        w, h = 16, 16
        pixels = [(x // 2 + y) % 4 for y in range(h) for x in range(w)]
        lzw = self._lzw_encode(2, pixels)
        gif = bytearray(b"GIF89a")
        gif += _struct.pack("<HH", w, h)
        gif += bytes([0x81, 0, 0])
        gif += bytes([10, 10, 10, 110, 110, 110, 170, 170, 170, 250, 250, 250])
        gif += b"\x2c" + _struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        gif += bytes([2])
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            gif += bytes([len(chunk)]) + chunk
        gif += b"\x00\x3b"
        dw, dh, dc, px = decode_gif(bytes(gif))
        assert (dw, dh, dc) == (w, h, 3)
        palette = [10, 110, 170, 250]
        got = [px[i * 3] for i in range(w * h)]
        assert got == [palette[p] for p in pixels]


class TestTiff:
    @needs(DOCS / "img" / "layout-parser-paper-combined.tiff")
    def test_multipage_real_fixture(self):
        from unstructured_spark.parsers.image_codec import decode_tiff_pages

        pages = decode_tiff_pages(
            (DOCS / "img" / "layout-parser-paper-combined.tiff").read_bytes()
        )
        assert [(w, h, c) for w, h, c, _ in pages] == [(612, 792, 3), (791, 1024, 3)]

    @needs(
        DOCS / "img" / "layout-parser-paper-fast.tiff",
        DOCS / "img" / "layout-parser-paper-fast.jpg",
    )
    def test_cross_format_parity_with_jpeg(self):
        """fast.tiff and fast.jpg are renders of the same page: the
        TIFF strip assembly must agree with the independently-validated
        JPEG decode to within quantization error."""
        import numpy as np

        from unstructured_spark.parsers.image_codec import (
            decode_jpeg,
            decode_tiff_pages,
        )

        w, h, c, px = decode_tiff_pages(
            (DOCS / "img" / "layout-parser-paper-fast.tiff").read_bytes()
        )[0]
        t = np.frombuffer(bytes(px), np.uint8).reshape(h, w, c)[:, :, :3].astype(float)
        jw, jh, jc, jpx = decode_jpeg(
            (DOCS / "img" / "layout-parser-paper-fast.jpg").read_bytes()
        )
        assert (jw, jh) == (w, h)
        j = np.frombuffer(bytes(jpx), np.uint8).reshape(jh, jw, 3).astype(float)
        assert np.abs(t - j).mean() < 1.0

    def test_lzw_and_packbits_strips(self):
        import numpy as np

        from unstructured_spark.parsers.image_codec import (
            _packbits_decode,
            _tiff_lzw_decode,
        )

        # PackBits: literal run + repeat run
        pb = bytes([2, 10, 20, 30, 0x100 - 3, 7])  # 3 literals then 7 x4
        assert bytes(_packbits_decode(pb, 7)) == bytes([10, 20, 30, 7, 7, 7, 7])
        # TIFF LZW: clear + literals, MSB-first 9-bit codes
        codes = [256, 65, 66, 66, 257]
        buf = bits = 0
        stream = bytearray()
        for cd in codes:
            buf = (buf << 9) | cd
            bits += 9
            while bits >= 8:
                stream.append((buf >> (bits - 8)) & 0xFF)
                bits -= 8
        if bits:
            stream.append((buf << (8 - bits)) & 0xFF)
        assert bytes(_tiff_lzw_decode(bytes(stream), 10)) == b"ABB"

    def test_dispatch_routes_multipage_tiff(self):
        from unstructured_spark.parsers.dispatch import partition_bytes
        from unstructured_spark.parsers.image_parser import set_ocr_agent

        cases = [(make_tiff([(60, 40), (30, 70)]), [(1, "60x40"), (2, "30x70")])]
        combined = DOCS / "img" / "layout-parser-paper-combined.tiff"
        if combined.exists():
            cases.append((combined.read_bytes(), [(1, "612x792"), (2, "791x1024")]))
        set_ocr_agent(
            lambda a, w, h: [{"text": f"{w}x{h}", "x1": 0, "y1": 0, "x2": 50, "y2": 20}]
        )
        try:
            runs = [(partition_bytes(raw, filename="scan.tiff"), want) for raw, want in cases]
        finally:
            set_ocr_agent(None)
        for els, want in runs:
            assert [(e["page_number"], e["text"]) for e in els] == want
            assert els[0]["filetype"] == "image/tiff"

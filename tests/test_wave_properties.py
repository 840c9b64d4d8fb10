"""Property tests for the round-8 media/document wave: encoder →
parser round-trips must hold for ALL parameter draws, not just the
fixture points (same discipline as test_warc_properties /
test_sps_properties)."""

from hypothesis import example, given, settings
from hypothesis import strategies as st

from bigdata_invoice_stream_analysis_spark.operators.avi import (
    encode_avi,
    parse_avi,
)
from bigdata_invoice_stream_analysis_spark.operators.bmp import (
    encode_bmp,
    parse_bmp,
)
from bigdata_invoice_stream_analysis_spark.operators.flacmeta import (
    encode_flac,
    parse_flac,
)
from bigdata_invoice_stream_analysis_spark.operators.hls import (
    parse_attribute_list,
)
from bigdata_invoice_stream_analysis_spark.operators.mpegts import (
    PACKET_SIZE,
    encode_minimal_ts,
    encode_pes,
    packetize,
    parse_ts,
)
from bigdata_invoice_stream_analysis_spark.operators.ooxml import (
    decode_entities,
    encode_minimal_docx,
    parse_ooxml,
)


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 6),
    pts0=st.integers(0, (1 << 33) - 10_000_000),
    step=st.integers(1, 3_000_000),
    pcr=st.one_of(st.none(), st.integers(0, 1 << 40)),
)
# Last PTS 8_589_940_537 passes 2**33: the field wraps (ISO/IEC 13818-1).
@example(n=5, pts0=8_577_940_617, step=2_999_980, pcr=None)
def test_ts_pes_roundtrip(n, pts0, step, pcr):
    ts = encode_minimal_ts(n_video_pes=n, pts0=pts0, pts_step=step,
                           pcr0=pcr)
    m = parse_ts(ts)
    vid = m["pids"][0x0101]
    # PTS is a 33-bit field: the encoder masks, the parser reports it.
    wrap = 1 << 33
    assert vid["n_pes"] == n
    assert vid["first_pts"] == pts0 % wrap
    assert vid["last_pts"] == (pts0 + (n - 1) * step) % wrap
    assert m["n_cc_errors"] == 0
    assert m["n_psi_crc_bad"] == 0


@settings(max_examples=40, deadline=None)
@given(body=st.binary(min_size=0, max_size=3000),
       cc=st.integers(0, 15),
       pts=st.one_of(st.none(), st.integers(0, (1 << 33) - 1)))
def test_ts_packetizer_alignment(body, cc, pts):
    pkts = packetize(0x44, encode_pes(0xE0, body, pts=pts),
                     cc_start=cc)
    assert len(pkts) % PACKET_SIZE == 0
    for off in range(0, len(pkts), PACKET_SIZE):
        assert pkts[off] == 0x47
    # PUSI exactly once
    pusi = sum(1 for off in range(0, len(pkts), PACKET_SIZE)
               if pkts[off + 1] & 0x40)
    assert pusi == 1


@settings(max_examples=40, deadline=None)
@given(
    rate=st.integers(1, (1 << 20) - 1),
    ch=st.integers(1, 8),
    bits=st.integers(4, 32),
    total=st.integers(0, (1 << 36) - 1),
    md5=st.binary(min_size=16, max_size=16),
)
def test_flac_streaminfo_roundtrip(rate, ch, bits, total, md5):
    m = parse_flac(encode_flac(
        sample_rate=rate, channels=ch, bits_per_sample=bits,
        total_samples=total, md5=md5))
    assert m["sample_rate"] == rate
    assert m["channels"] == ch
    assert m["bits_per_sample"] == bits
    assert m["total_samples"] == total
    assert m["md5"] == md5.hex()


_TAG_KEY = st.text(
    alphabet=st.characters(
        whitelist_categories=["Lu", "Ll", "Nd"]),
    min_size=1, max_size=12)
_TAG_VAL = st.text(
    alphabet=st.characters(
        blacklist_characters="=", blacklist_categories=["Cs"]),
    min_size=0, max_size=40)


@settings(max_examples=30, deadline=None)
@given(tags=st.dictionaries(_TAG_KEY, _TAG_VAL, max_size=6))
def test_flac_vorbis_comment_roundtrip(tags):
    m = parse_flac(encode_flac(tags=tags))
    # spec: keys are case-insensitive, stored upper, LAST wins —
    # mimic that fold on the input for comparison
    expect: dict = {}
    for k, v in tags.items():
        expect[k.upper()] = v
    assert m["tags"] == expect


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 4096),
    h=st.integers(1, 4096),
    bpp=st.sampled_from([1, 4, 8, 16, 24, 32]),
    top=st.booleans(),
)
def test_bmp_geometry_roundtrip(w, h, bpp, top):
    m = parse_bmp(encode_bmp(w, h, bpp, top_down=top))
    assert (m["width"], m["height"]) == (w, h)
    assert m["bpp"] == bpp
    assert m["top_down"] == top
    assert m["size_consistent"]
    # the 4-byte row alignment invariant
    assert m["expected_pixel_bytes"] % 4 == 0


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 2000),
    h=st.integers(1, 2000),
    n=st.integers(0, 20),
    us=st.integers(1000, 200_000),
)
def test_avi_roundtrip(w, h, n, us):
    m = parse_avi(encode_avi(width=w, height=h, n_frames=n,
                             us_per_frame=us, audio=None,
                             with_idx1=False))
    assert (m["width"], m["height"]) == (w, h)
    assert m["n_frames"] == n
    assert m["n_movi_chunks"] == n
    assert m["dims_match"] and m["frames_match"]


_PARA = st.text(
    alphabet=st.characters(blacklist_categories=["Cs", "Cc"]),
    min_size=0, max_size=80)


@settings(max_examples=30, deadline=None)
@given(paragraphs=st.lists(_PARA, max_size=5))
def test_docx_text_roundtrip(paragraphs):
    m = parse_ooxml(encode_minimal_docx(paragraphs))
    expect = "\n".join(p for p in paragraphs if p)
    assert m["text"] == expect


@settings(max_examples=50, deadline=None)
@given(vals=st.lists(
    st.text(alphabet=st.characters(
        blacklist_characters='"', blacklist_categories=["Cs"]),
        max_size=30),
    min_size=1, max_size=5))
def test_hls_attribute_list_quoted_roundtrip(vals):
    s = ",".join(f'K{i}="{v}"' for i, v in enumerate(vals))
    attrs = parse_attribute_list(s)
    for i, v in enumerate(vals):
        assert attrs[f"K{i}"] == v


@settings(max_examples=60, deadline=None)
@given(s=st.text(max_size=120))
def test_entity_decode_never_grows_unboundedly(s):
    # decoding is single-pass: output length is bounded by input
    # length (entities only SHRINK), and idempotent on entity-free
    # text
    out = decode_entities(s)
    assert len(out) <= len(s)
    if "&" not in s:
        assert out == s

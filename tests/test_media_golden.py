"""Golden pins of the eight media operators over the package's own
encoders.

Each (operator, codec) case runs that codec's encoder outputs through
the operator and pins the sha256 of the outcome per blob: the blob's
sorted output rows, or the last ``SomethingError: message`` line of
the Python exception its decode raised.  A NULL, an empty and a junk
blob go through every operator too: in every case of the fake double
and of the two operators that turn decode errors into rows, and, for
the operators whose decode errors abort the batch, alone through one
real codec each (``ODD_ALONE``; a Spark job per odd blob and case
would take minutes).  Each operator's batched rows run as one union
job.  The pins were recorded before the operators were rebuilt on one
per-blob path and one codec table; a refactor must leave every one
unchanged.

The laws at the end check that an operator refuses, when its stage is
built, a ``codec=`` it cannot decode, listing the ones it can.
"""

from __future__ import annotations

import functools
import hashlib
import re

import numpy as np
import pytest
from pyspark.sql import DataFrame

JUNK = b"not an image at all"
BAD = [None, b"", JUNK]

#: the operators whose decode errors abort the batch -> the one real
#: codec whose odd blobs run alone
ODD_ALONE = {"image_metadata": "png", "audio_metadata": "wav",
             "image_resize": "png", "frame_sample": "gif",
             "video_metadata": "avi", "feature_extract": "wav"}

IMAGE = ["bmp", "png", "jpeg", "gif", "tiff", "pnm", "webp"]
AUDIO = ["wav", "flac", "aiff", "mp3", "ogg", "vorbis"]


def _stages():
    from conduino_spark import (audio_metadata, container_info,
                                feature_extract, frame_sample,
                                image_metadata, image_resize,
                                media_profile, video_metadata)

    def by_codec(make):
        return lambda c: (make(codec_col="format") if c == "codec_col"
                          else make(codec=c))

    return {
        "image_metadata": (lambda c: image_metadata(codec=c),
                           ["fake"] + IMAGE),
        "audio_metadata": (lambda c: audio_metadata(codec=c),
                           ["fake"] + AUDIO),
        "image_resize": (lambda c: image_resize(width=5, height=4,
                                                codec=c),
                         ["fake"] + [c for c in IMAGE if c != "gif"]),
        "frame_sample": (lambda c: frame_sample(every_n=2, max_frames=2,
                                                codec=c),
                         ["fake", "gif", "avi", "webp", "mpeg1",
                          "mpeg_ps"]),
        "video_metadata": (lambda c: video_metadata(codec=c),
                           ["fake", "avi", "webp", "mpeg1", "mpeg_ps"]),
        "feature_extract": (lambda c: feature_extract(dim=8, codec=c),
                            ["fake"] + IMAGE + AUDIO),
        "container_info": (by_codec(container_info),
                           ["mp3", "ogg", "mp4", "webm", "mpeg1",
                            "mpeg_ps", "codec_col"]),
        "media_profile": (by_codec(media_profile),
                          IMAGE + AUDIO + ["avi", "mpeg1", "mpeg_ps",
                                           "codec_col"]),
    }


CASES = [(op, c) for op, (_, codecs) in _stages().items() for c in codecs]


@functools.lru_cache(maxsize=None)
def _blobs():
    """codec -> that codec's encoder outputs."""
    from conduino_spark import (encode_aiff, encode_avi_mjpeg, encode_bmp,
                                encode_flac, encode_gif, encode_jpeg,
                                encode_mp3, encode_mp3_stub,
                                encode_mp4_stub, encode_ogg_stub,
                                encode_png, encode_pnm, encode_tiff,
                                encode_vorbis, encode_wav,
                                encode_webm_stub)
    from conduino_spark.operators.mpeg1 import encode_mpeg1, mux_mpeg_ps
    from conduino_spark.operators.webp import encode_webp, encode_webp_anim
    img = ((np.arange(12 * 16 * 3) * 7) % 251).astype(np.uint8) \
        .reshape(12, 16, 3)
    frames = [np.roll(img, k, axis=1) for k in range(4)]
    mb = [((np.arange(16 * 32 * 3) * 5 + 40 * k) % 256).astype(np.uint8)
          .reshape(16, 32, 3) for k in range(4)]
    x = ((np.arange(2000) * 37) % 2001 - 1000).astype("<i2")
    es = encode_mpeg1(mb)
    vorbis = encode_vorbis(x.astype(np.float64) / 32768, 8000)
    mp3 = encode_mp3(np.zeros(3 * 1152), 44100)
    png = encode_png(img)
    wav = encode_wav(x, 8000)
    return {
        "bmp": [encode_bmp(img)], "png": [png],
        "jpeg": [encode_jpeg(img)], "gif": [encode_gif(frames)],
        "tiff": [encode_tiff(img)], "pnm": [encode_pnm(img)],
        "webp": [encode_webp(img), encode_webp_anim(frames)],
        "wav": [wav], "flac": [encode_flac(x, 8000)],
        "aiff": [encode_aiff(x, 8000)],
        "mp3": [mp3, encode_mp3_stub(4)],
        "ogg": [vorbis],
        # Ogg headers with no Vorbis payload: container-level only
        "ogg_headers": [encode_ogg_stub("vorbis"), encode_ogg_stub("opus")],
        "vorbis": [vorbis], "avi": [encode_avi_mjpeg(frames)],
        "mpeg1": [es], "mpeg_ps": [mux_mpeg_ps(es)],
        "mp4": [encode_mp4_stub()], "webm": [encode_webm_stub()],
        "fake": [png, wav],
    }


def _case_rows(op, codec):
    """(batched, alone) input rows of one case, (id, blob, format) each."""
    blobs = _blobs()
    if codec == "codec_col":
        good = [({"ogg_headers": "ogg"}.get(c, c), b)
                for c in sorted(blobs) if c != "fake" for b in blobs[c]]
        odd = [("png", None), ("wav", b""), ("jpeg", JUNK),
               (None, blobs["png"][0]), ("xyz", blobs["wav"][0])]
    else:
        good = [(codec, b) for b in blobs[codec]]
        if codec == "ogg" and op not in ODD_ALONE:
            good += [(codec, b) for b in blobs["ogg_headers"]]
        odd = [(codec, b) for b in BAD]
    rows = [(i, b, c) for i, (c, b) in enumerate(good + odd)]
    if op not in ODD_ALONE or codec == "fake":
        return rows, []
    n = len(good)
    return rows[:n], rows[n:] if ODD_ALONE[op] == codec else []


_LAST_ERROR = re.compile(r"^([A-Za-z_][\w.]*(?:Error|Exception)): (.*)$",
                         re.M)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "id long, content binary, "
                                       "format string")


def _grouped(rows, got, case_of=lambda i: (None, i)):
    """case -> id -> sorted output rows; ``case_of`` splits an output
    id into (case, id within the case)."""
    out = {}
    for r in rows:
        out.setdefault(case_of(r[0])[0], {})[case_of(r[0])[1]] = []
    for r in got:
        c, i = case_of(r[0])
        out[c][i].append(repr((i,) + tuple(r)[1:]))
    return {c: {i: sorted(v) for i, v in o.items()} for c, o in out.items()}


def _outcome(spark, stage, rows):
    """id -> sorted output rows, or the error line its decode raised;
    a batch that raises is re-run row by row."""
    try:
        return _grouped(rows, stage(_frame(spark, rows)).collect())[None]
    except Exception as e:  # noqa: BLE001 - the error is the pin
        if len(rows) > 1:
            return {k: v for r in rows
                    for k, v in _outcome(spark, stage, [r]).items()}
        last = _LAST_ERROR.findall(str(e))
        return {rows[0][0]: ("raise",) + (last[-1] if last
                                          else (type(e).__name__,))}


def _op_outcomes(spark, op):
    """codec -> {id: outcome} for every case of ``op``: the batched rows
    of all its cases in one union job, then each alone row."""
    make, codecs = _stages()[op]
    stages = {c: make(c) for c in codecs}
    rows = {c: _case_rows(op, c) for c in codecs}
    tagged = [(k * 1000 + i, b, f) for k, c in enumerate(codecs)
              for i, b, f in rows[c][0]]
    try:
        got = functools.reduce(DataFrame.unionByName, [
            stages[c](_frame(spark, [r for r in tagged
                                     if r[0] // 1000 == k]))
            for k, c in enumerate(codecs)]).collect()
        by_k = _grouped(tagged, got, lambda i: divmod(i, 1000))
        out = {c: by_k[k] for k, c in enumerate(codecs)}
    except Exception:  # noqa: BLE001 - re-run case by case
        out = {c: _outcome(spark, stages[c], rows[c][0]) for c in codecs}
    for c in codecs:
        for r in rows[c][1]:
            out[c].update(_outcome(spark, stages[c], [r]))
    return out


def _digest(out):
    return hashlib.sha256(repr(sorted(out.items())).encode()).hexdigest()


@pytest.fixture(scope="module")
def outcomes(spark):
    """op -> codec -> {id: outcome}, one operator's cases at a time."""
    cache = {}

    def get(op):
        if op not in cache:
            cache[op] = _op_outcomes(spark, op)
        return cache[op]

    return get


PINS = {
    "image_metadata/fake":
        "e9a08cad608f73397e517aea6699693c40f1fbdf727b500d231380af39a5652b",
    "image_metadata/bmp":
        "c5f23b2ade23c1d8359d29df905c660b67eb67e02efc33de9b99887ef288aa36",
    "image_metadata/png":
        "6e3dd39008d0f999fc2f5f17174c67fd1a42707506bb0e8b446ddb0463e80bb2",
    "image_metadata/jpeg":
        "11b8f38df177489bc71cddd841cbbed273f1ce37c4004d3a03650f7824129d00",
    "image_metadata/gif":
        "366b75c268422635192b920468938cb9ae2445fa61cd7846267103bcfbd98718",
    "image_metadata/tiff":
        "327a8851cc7a336ec332a8e3147e171f4efa19900259d9e1551cdcffa9b3c652",
    "image_metadata/pnm":
        "a297eb1f839201331d9f6ff8405dd85d2e430a5cfe91c22f96c9a3fc6492c37b",
    "image_metadata/webp":
        "36a01e7c745db894a61617ed16ffa9825db4fbc9c9abea72d9f139da2f72abeb",
    "audio_metadata/fake":
        "2c45a8b0c11e4407d130cb80f1982ae17aaf125b7b3aa574b98947ac685de87e",
    "audio_metadata/wav":
        "c035251e57a5be2daece67396ae22001aa5b24ff761182f0eda19aa9e6179122",
    "audio_metadata/flac":
        "005e1817c0db22b6eec99a81ee6aa1cf4db4c205600ae88a19ad0238a77fd7aa",
    "audio_metadata/aiff":
        "b514af6f61817521a4a9e11ec82ebf7528c04e820e2c04c65b5994566c5a5c1b",
    "audio_metadata/mp3":
        "6ae5a811c62df43fabe7c30f29e908a15644b21795072571f20fa5df922f984b",
    "audio_metadata/ogg":
        "2dd6a848ee9ad5b5527ac18339584fc61c3f1659159b713f01ce7bcc0f403a8a",
    "audio_metadata/vorbis":
        "a9486af87654f6addafa8dde10d1c5cae80f7f8a9c9e227fb098319f0d7bb92f",
    "image_resize/fake":
        "2efec43d4a33b52ddfce263680e3e904e29a0eb87d9eebca018414129cf61eaf",
    "image_resize/bmp":
        "87ba23fafcd7f6c5d95313c4f0e7c51ad64efb73c735326ab0b64edf3d05a9ce",
    "image_resize/png":
        "741232c19883f4fa721026829e8cc877d7bd5006b9a0f285ce010cf2c0d97e08",
    "image_resize/jpeg":
        "3075551a7967bd406aa87407e6ee7af255b24f57038aa5add1463b64c6759971",
    "image_resize/tiff":
        "6d5d6f121a6b2c43c4682e25a34017910f99be96e21ba40b1a9c6fcd9bb073e4",
    "image_resize/pnm":
        "64526dc0d81594c793a5524d9582570158a9dbdb015824d18ea018393c16b325",
    "image_resize/webp":
        "365db700b1223360035f2c790c834c8b53220fbff353a156ea4f53b04b20045b",
    "frame_sample/fake":
        "06a184c0002e3f8969283ca351e77dc597bc0a906b919c8b83ed8bb184b3496c",
    "frame_sample/gif":
        "d330ca82dd71b50dc51992d7cba276e2824ac8223336558a23adc0eddbeebd8b",
    "frame_sample/avi":
        "be7faa3be026fdf74d415226f6bd1a9493c666f2f18dccb6aa17c741e28f0b8a",
    "frame_sample/webp":
        "6e1216de8d27ecdb068900da271e0b5ebaedd4db0e3797fad8d0afc4c8f2260d",
    "frame_sample/mpeg1":
        "374bcf26005b4555652f9e2671babbf2c598af9479ff49997767bf6dec9a6256",
    "frame_sample/mpeg_ps":
        "374bcf26005b4555652f9e2671babbf2c598af9479ff49997767bf6dec9a6256",
    "video_metadata/fake":
        "6b52bb8b9a1a2f84c16369747fee9a9f78efb7fcef8e360fd2496d8ef7cbaf33",
    "video_metadata/avi":
        "ab2999acd4476ed30fa0c738b06e83696e987ead6e26e43aa4bbaa4c9e99cce7",
    "video_metadata/webp":
        "26c321634ed22bf137fef3ae5d200a3f7a58f1bdf3467cf52ca83b55b035d07e",
    "video_metadata/mpeg1":
        "94932a7a9fa0ea16e83642394063001df826869b0551703f3743b559bde51978",
    "video_metadata/mpeg_ps":
        "337a57485df26e958c4cc94cb571b2d927fe6bff71ee3c7de5f1eb4ef9874869",
    "feature_extract/fake":
        "a934da0fdfc22001221c3739510e0c54c31bad0b6edaac31777de3556c2379a7",
    "feature_extract/bmp":
        "4a70cba526a0e210a5808d8f609af8a97dc06041906d3c8119ffd10d2d3b60ef",
    "feature_extract/png":
        "4a70cba526a0e210a5808d8f609af8a97dc06041906d3c8119ffd10d2d3b60ef",
    "feature_extract/jpeg":
        "b9d758601a6d3adc993412a7da7c3dd51d7ca463dce8b5e9438fc5db9244ee5b",
    "feature_extract/gif":
        "4a70cba526a0e210a5808d8f609af8a97dc06041906d3c8119ffd10d2d3b60ef",
    "feature_extract/tiff":
        "4a70cba526a0e210a5808d8f609af8a97dc06041906d3c8119ffd10d2d3b60ef",
    "feature_extract/pnm":
        "4a70cba526a0e210a5808d8f609af8a97dc06041906d3c8119ffd10d2d3b60ef",
    "feature_extract/webp":
        "2bc6dd7fab63c6d404581fab35acb4a8c56303004aee5ff17b14574eae9b759c",
    "feature_extract/wav":
        "5b1a15451f6018802ddfc8e2692e548bd44b62bdcf4410716366a0118002089d",
    "feature_extract/flac":
        "d0b02ba5f5656f43df17cc7e2257384326e9b23d3cb26f4496c4cef05291440e",
    "feature_extract/aiff":
        "d0b02ba5f5656f43df17cc7e2257384326e9b23d3cb26f4496c4cef05291440e",
    "feature_extract/mp3":
        "e6dace919a1fcef0bdfb34a359f3cf58bfc93b09222cd102d3a0b3955afcddc6",
    "feature_extract/ogg":
        "6ec24aaace54945fff428570308d6df88bec1e295ffc9728709f15475099433c",
    "feature_extract/vorbis":
        "6ec24aaace54945fff428570308d6df88bec1e295ffc9728709f15475099433c",
    "container_info/mp3":
        "fad40597d983d149859ddbbe5e9d1a1e93dd5f68a629d179d684375bbd45dc72",
    "container_info/ogg":
        "770229a508346f3da13fd941faf4c322c8b492ca086e87e834e62ba64d325272",
    "container_info/mp4":
        "c677308161183e45cbe4d367ba02f1cb8ff80b73f66ed74bb4df6c61d1c45a92",
    "container_info/webm":
        "57e71e1b5f232316f31d6fd4f95b90d0686155943e6f7b77a3ea13f8093e3b0e",
    "container_info/mpeg1":
        "5888e2b508eca31d658d97bce6cc506102a8342b2aca60dc5d233e4b43877405",
    "container_info/mpeg_ps":
        "11655438cc61b53954b68c3e7cc7987eb0639afeaf0461335a4360d98954129f",
    "container_info/codec_col":
        "23635b2f98abd052f792e664f19f72cac7917ad158ceadbbcd19274c6f541766",
    "media_profile/bmp":
        "406423b084a272684997017548cfdc5de1364f6d6b8dd5e024cd20773ac80681",
    "media_profile/png":
        "d2f1d6728aaa36ad42cd4f6067fd7f8a2de59406cc9f70bc048f197e4789e36a",
    "media_profile/jpeg":
        "7211af8237186955dad273f4e6755c7819f7a4fc38bf3e6fe31a49d0e587d02a",
    "media_profile/gif":
        "f99266b8ba8311f5e155885407d5d6fb4b76d9c32d23385de2e7728c853472ec",
    "media_profile/tiff":
        "a638d6b709f20fe693e13bcef444dbfa4a94928907ec79fa245caafd4f287773",
    "media_profile/pnm":
        "100054a44b0c9f90e66d801964263ed2864219ab7fee1453b8135da9950970d4",
    "media_profile/webp":
        "e4a7017ce2f4be2e16f934489970a2b4aebdfee53dfc340f16f228947c0d2029",
    "media_profile/wav":
        "58dc69c1e569b659f5c29e9c6415c13be89543e5f89437ecd868716692bdce0d",
    "media_profile/flac":
        "df015dfc15a3fdd8dcc44f30104e6e76c7cc28996a527a754f8eb37e6643bed7",
    "media_profile/aiff":
        "a3790984fb9ea01a9a3cbc5f776ce6367cbf6fb6755de30f9e0d7b75f169ac60",
    "media_profile/mp3":
        "bf0c2a2894401d9774e9faa6678ea53cf1a7d2c5189068380664509abb73092f",
    "media_profile/ogg":
        "f7bac221d0f6b07dc7180615a442094b6c77b7369144d32a1ebaa5f5f135d8dc",
    "media_profile/vorbis":
        "8368fb6152d6d9ee31711241016ca66b19c8ccea6697f3c94d6cc02feef98d36",
    "media_profile/avi":
        "4ac90bdeae5a81f26bc4dafc5049af1dc89944654fa078dd9c7e941cbe34e2d9",
    "media_profile/mpeg1":
        "4105be9149bf5e18fc03cf8fcb1e512ed24ad4965f7253e8764461c0796347d7",
    "media_profile/mpeg_ps":
        "a86c679d19d8ee50739bfc2df4fecc06102c6539a7480a3727680779d54f4e6c",
    "media_profile/codec_col":
        "9e08d8237eb2cb073b76daf735a70ec2f73e342ee119bf5414c676c47a6e9a53",
}


@pytest.mark.parametrize("op, codec", CASES)
def test_media_operator_rows_pinned(outcomes, op, codec):
    assert _digest(outcomes(op)[codec]) == PINS[f"{op}/{codec}"]


# ---------------------------------------------------------------------------
# The codec table is the validator: a codec= an operator cannot decode is
# refused when the stage is built, not run through the fake double
# ---------------------------------------------------------------------------

SINGLE = ["fake", "real"]

LAWS = [
    ("image_metadata", "jpg", IMAGE + SINGLE),
    ("audio_metadata", "opus", AUDIO + SINGLE),
    ("image_resize", "jpg",
     [c for c in IMAGE if c != "gif"] + SINGLE),
    ("frame_sample", "mp4",
     ["gif", "webp", "avi", "mpeg1", "mpeg_ps"] + SINGLE),
    ("video_metadata", "mp4",
     ["webp", "avi", "mpeg1", "mpeg_ps"] + SINGLE),
    ("feature_extract", "mp4", IMAGE + AUDIO + SINGLE),
    ("media_profile", "mp4", IMAGE + AUDIO + ["avi", "mpeg1", "mpeg_ps"]),
    ("container_info", "wav",
     ["mp3", "ogg", "mp4", "webm", "mpeg1", "mpeg_ps"]),
]


@pytest.mark.parametrize("op, bad, accepted", LAWS,
                         ids=[f"{op}-{bad}" for op, bad, _ in LAWS])
def test_unknown_codec_refused_at_build(op, bad, accepted):
    import ast
    make, _ = _stages()[op]
    with pytest.raises(ValueError, match=f"unknown .*{bad!r}") as e:
        make(bad)
    listed = ast.literal_eval(str(e.value).split("(one of ")[1][:-1])
    assert sorted(listed) == sorted(accepted)


def test_image_resize_gif_refused_at_build():
    from conduino_spark import image_resize
    with pytest.raises(ValueError, match=r"sample frames first \("
                       r"frame_sample\(codec='gif'\) emits PNG frames\)"):
        image_resize(codec="gif")


# ---------------------------------------------------------------------------
# mpeg1 and mpeg_ps name one table entry: each name reads the other form
# (elementary stream / program stream) exactly as its matching name does
# ---------------------------------------------------------------------------

CROSS = [(op, name, form) for op in ("container_info", "media_profile")
         for name, form in (("mpeg1", "mpeg_ps"), ("mpeg_ps", "mpeg1"))]


@pytest.mark.parametrize("op, name, form", CROSS,
                         ids=[f"{op}-{n}-on-{f}" for op, n, f in CROSS])
def test_mpeg_name_reads_either_form(spark, op, name, form):
    make, _ = _stages()[op]
    rows = [(0, _blobs()[form][0], form)]

    def unnamed(stage_codec):
        # the rows carry the codec name the stage was built with
        out = _outcome(spark, make(stage_codec), rows)
        return {i: [r.replace(repr(stage_codec), "<codec>") for r in v]
                for i, v in out.items()}

    got = unnamed(name)
    assert got == unnamed(form)
    assert "error" not in repr(got)

"""Optional libheif binding for HEIC/HEIF/AVIF pixel decode
(SURVEY.md §2.K4).

The clean-room ISOBMFF parser (sources/isobmff.py) covers the
container: probe, box tree, sample-table frame index. The coded
HEVC/AV1 payload is a codec problem no clean-room effort should fake,
so pixel decode is an optional binding — the only one in the
engine's decode paths: when the SYSTEM libheif (a public library,
github.com/strukturag/libheif) is loadable via ctypes, decode for
real; otherwise raise the same honest ``NotImplementedError`` gate
``decode_isobmff`` always raised. No Python package is required —
the C ABI is called directly, like tests/libwebp_ref.py does for
WebP conformance.

``heif_error`` is returned BY VALUE (a 3-field struct); every entry
point declares it as the restype so a failure surfaces as
:class:`IsobmffParseError` with libheif's message instead of a
segfault. The fixture encoder drives libheif's x265/aom encoders in
LOSSLESS mode when available so round-trip tests compare exact
pixels, not PSNR."""

from __future__ import annotations

import ctypes
import ctypes.util

import numpy as np

from hortacloud_importer_spark.sources.isobmff import IsobmffParseError

_HEIF_COLORSPACE_RGB = 1
_HEIF_CHROMA_INTERLEAVED_RGB = 10
_HEIF_CHROMA_INTERLEAVED_RGBA = 11
_HEIF_CHANNEL_INTERLEAVED = 10
_HEIF_COMPRESSION_HEVC = 1
_HEIF_COMPRESSION_AV1 = 4


class _HeifError(ctypes.Structure):
    _fields_ = [
        ("code", ctypes.c_int),
        ("subcode", ctypes.c_int),
        ("message", ctypes.c_char_p),
    ]


_LIB = None
_LIB_TRIED = False


def load_libheif():
    """The system libheif, or None — cached; never raises."""
    global _LIB, _LIB_TRIED
    if _LIB_TRIED:
        return _LIB
    _LIB_TRIED = True
    for name in ("libheif.so.1", "libheif.so", ctypes.util.find_library("heif")):
        if not name:
            continue
        try:
            lib = ctypes.CDLL(name)
        except OSError:
            continue
        try:
            _declare(lib)
        except AttributeError:
            continue  # too old an ABI
        _LIB = lib
        return _LIB
    return None


def _declare(lib) -> None:
    lib.heif_context_alloc.restype = ctypes.c_void_p
    lib.heif_context_free.argtypes = [ctypes.c_void_p]
    lib.heif_context_read_from_memory_without_copy.restype = _HeifError
    lib.heif_context_read_from_memory_without_copy.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t, ctypes.c_void_p,
    ]
    lib.heif_context_get_primary_image_handle.restype = _HeifError
    lib.heif_context_get_primary_image_handle.argtypes = [
        ctypes.c_void_p, ctypes.POINTER(ctypes.c_void_p),
    ]
    lib.heif_image_handle_release.argtypes = [ctypes.c_void_p]
    lib.heif_image_handle_has_alpha_channel.restype = ctypes.c_int
    lib.heif_image_handle_has_alpha_channel.argtypes = [ctypes.c_void_p]
    lib.heif_decode_image.restype = _HeifError
    lib.heif_decode_image.argtypes = [
        ctypes.c_void_p, ctypes.POINTER(ctypes.c_void_p),
        ctypes.c_int, ctypes.c_int, ctypes.c_void_p,
    ]
    lib.heif_image_release.argtypes = [ctypes.c_void_p]
    lib.heif_image_get_width.restype = ctypes.c_int
    lib.heif_image_get_width.argtypes = [ctypes.c_void_p, ctypes.c_int]
    lib.heif_image_get_height.restype = ctypes.c_int
    lib.heif_image_get_height.argtypes = [ctypes.c_void_p, ctypes.c_int]
    lib.heif_image_get_plane_readonly.restype = ctypes.POINTER(
        ctypes.c_uint8
    )
    lib.heif_image_get_plane_readonly.argtypes = [
        ctypes.c_void_p, ctypes.c_int, ctypes.POINTER(ctypes.c_int),
    ]


def _check(err: _HeifError, what: str) -> None:
    if err.code != 0:
        msg = (err.message or b"?").decode("utf-8", "replace")
        raise IsobmffParseError(f"libheif {what}: {msg} (code {err.code})")


def decode_heif(data: bytes) -> np.ndarray:
    """HEIC/HEIF/AVIF bytes -> (h, w, 3|4) uint8 via the system
    libheif (de265/dav1d decoders). Raises NotImplementedError when
    the binding is absent — the caller (decode_isobmff) turns that
    into the standard codec gate."""
    lib = load_libheif()
    if lib is None:
        raise NotImplementedError(
            "HEIF pixel decode needs the libheif codec binding"
        )
    ctx = lib.heif_context_alloc()
    if not ctx:
        raise IsobmffParseError("libheif context allocation failed")
    handle = ctypes.c_void_p()
    img = ctypes.c_void_p()
    try:
        _check(
            lib.heif_context_read_from_memory_without_copy(
                ctx, data, len(data), None
            ),
            "read",
        )
        _check(
            lib.heif_context_get_primary_image_handle(
                ctx, ctypes.byref(handle)
            ),
            "primary handle",
        )
        has_alpha = bool(
            lib.heif_image_handle_has_alpha_channel(handle)
        )
        chroma = (
            _HEIF_CHROMA_INTERLEAVED_RGBA
            if has_alpha
            else _HEIF_CHROMA_INTERLEAVED_RGB
        )
        _check(
            lib.heif_decode_image(
                handle, ctypes.byref(img), _HEIF_COLORSPACE_RGB,
                chroma, None,
            ),
            "decode",
        )
        w = lib.heif_image_get_width(img, _HEIF_CHANNEL_INTERLEAVED)
        h = lib.heif_image_get_height(img, _HEIF_CHANNEL_INTERLEAVED)
        if w <= 0 or h <= 0:
            raise IsobmffParseError("libheif returned empty dimensions")
        stride = ctypes.c_int()
        plane = lib.heif_image_get_plane_readonly(
            img, _HEIF_CHANNEL_INTERLEAVED, ctypes.byref(stride)
        )
        if not plane:
            raise IsobmffParseError("libheif returned no pixel plane")
        nch = 4 if has_alpha else 3
        buf = ctypes.cast(
            plane, ctypes.POINTER(ctypes.c_uint8 * (stride.value * h))
        ).contents
        arr = np.frombuffer(buf, dtype=np.uint8).reshape(h, stride.value)
        return arr[:, : w * nch].reshape(h, w, nch).copy()
    finally:
        if img:
            lib.heif_image_release(img)
        if handle:
            lib.heif_image_handle_release(handle)
        lib.heif_context_free(ctx)


def encode_heif(
    img: np.ndarray, codec: str = "hevc", lossless: bool = True
) -> bytes:
    """Fixture encoder via libheif's x265/aom encoders (lossless mode
    so round trips compare exact pixels). Test-support only — raises
    NotImplementedError without the binding, IsobmffParseError when
    the requested encoder is unavailable."""
    import os
    import tempfile

    lib = load_libheif()
    if lib is None:
        raise NotImplementedError(
            "HEIF encode needs the libheif codec binding"
        )
    img = np.ascontiguousarray(img)
    if img.ndim != 3 or img.shape[2] not in (3, 4) or img.dtype != np.uint8:
        raise IsobmffParseError("encoder takes (h, w, 3|4) uint8")
    h, w, nch = img.shape

    lib.heif_context_get_encoder_for_format.restype = _HeifError
    lib.heif_context_get_encoder_for_format.argtypes = [
        ctypes.c_void_p, ctypes.c_int, ctypes.POINTER(ctypes.c_void_p),
    ]
    lib.heif_encoder_release.argtypes = [ctypes.c_void_p]
    lib.heif_encoder_set_lossless.restype = _HeifError
    lib.heif_encoder_set_lossless.argtypes = [ctypes.c_void_p, ctypes.c_int]
    lib.heif_image_create.restype = _HeifError
    lib.heif_image_create.argtypes = [
        ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.c_void_p),
    ]
    lib.heif_image_add_plane.restype = _HeifError
    lib.heif_image_add_plane.argtypes = [
        ctypes.c_void_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_int,
    ]
    lib.heif_image_get_plane.restype = ctypes.POINTER(ctypes.c_uint8)
    lib.heif_image_get_plane.argtypes = [
        ctypes.c_void_p, ctypes.c_int, ctypes.POINTER(ctypes.c_int),
    ]
    lib.heif_context_encode_image.restype = _HeifError
    lib.heif_context_encode_image.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_void_p, ctypes.POINTER(ctypes.c_void_p),
    ]
    lib.heif_context_write_to_file.restype = _HeifError
    lib.heif_context_write_to_file.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p,
    ]

    fmt = {
        "hevc": _HEIF_COMPRESSION_HEVC,
        "av1": _HEIF_COMPRESSION_AV1,
    }.get(codec)
    if fmt is None:
        raise IsobmffParseError(f"unknown HEIF codec {codec!r}")
    ctx = lib.heif_context_alloc()
    enc = ctypes.c_void_p()
    him = ctypes.c_void_p()
    out_handle = ctypes.c_void_p()
    try:
        _check(
            lib.heif_context_get_encoder_for_format(
                ctx, fmt, ctypes.byref(enc)
            ),
            f"{codec} encoder",
        )
        if lossless:
            _check(lib.heif_encoder_set_lossless(enc, 1), "lossless")
            # 4:4:4 keeps chroma unsubsampled; the remaining error is
            # the RGB<->YCbCr integer round trip (bounded, asserted
            # small in tests) — full nclx control needs struct layouts
            # that vary across libheif versions
            lib.heif_encoder_set_parameter_string.restype = _HeifError
            lib.heif_encoder_set_parameter_string.argtypes = [
                ctypes.c_void_p, ctypes.c_char_p, ctypes.c_char_p,
            ]
            err = lib.heif_encoder_set_parameter_string(
                enc, b"chroma", b"444"
            )
            if err.code != 0:
                pass  # encoder without the knob: keep its default
        chroma = (
            _HEIF_CHROMA_INTERLEAVED_RGBA
            if nch == 4
            else _HEIF_CHROMA_INTERLEAVED_RGB
        )
        _check(
            lib.heif_image_create(
                w, h, _HEIF_COLORSPACE_RGB, chroma, ctypes.byref(him)
            ),
            "image create",
        )
        _check(
            lib.heif_image_add_plane(
                him, _HEIF_CHANNEL_INTERLEAVED, w, h, 8
            ),
            "add plane",
        )
        stride = ctypes.c_int()
        plane = lib.heif_image_get_plane(
            him, _HEIF_CHANNEL_INTERLEAVED, ctypes.byref(stride)
        )
        rowbytes = w * nch
        for y in range(h):
            ctypes.memmove(
                ctypes.addressof(plane.contents) + y * stride.value,
                img[y].tobytes(),
                rowbytes,
            )
        _check(
            lib.heif_context_encode_image(
                ctx, him, enc, None, ctypes.byref(out_handle)
            ),
            "encode",
        )
        fd, path = tempfile.mkstemp(suffix=".heif")
        os.close(fd)
        try:
            _check(
                lib.heif_context_write_to_file(ctx, path.encode()),
                "write",
            )
            with open(path, "rb") as fh:
                return fh.read()
        finally:
            os.unlink(path)
    finally:
        if out_handle:
            lib.heif_image_handle_release(out_handle)
        if him:
            lib.heif_image_release(him)
        if enc:
            lib.heif_encoder_release(enc)
        lib.heif_context_free(ctx)

"""Real-OCR engine adapter — the production Recognizer.

Reproduces the reference's engine ORCHESTRATION exactly, behind the
same ``media_ref -> list[Token]`` interface the deterministic stub
implements, so swapping it in changes nothing about the Spark plan:

* E1  PSM heuristic by aspect ratio (base.py:75-86)
* E3  data-dict parse filter: conf >= 0, nonempty stripped text
      (base.py:177-211 / arabic.py `_parse_data_dict_to_results`)
* E5  Arabic two-pass retry: psm 6 first, then 1.3× cubic upscale +
      psm 7 iff pass 1 parsed empty (arabic.py:84-120), with the
      resize-failure fallback to the original image
* E7  French single pass ``--psm 6 --oem 1`` (french.py:70-84)
* E10 language-support validation (base.py:156-163)
* F5  hybrid orchestration: both engines run unconditionally; Arabic
      tokens are emitted before French (hybrid.py:130-154) — the
      script filter (F1), overlap dedupe (F4) and reading order (R2)
      happen downstream in the vectorized fusion stage, NOT here.

The actual OCR/image backend is injected (``OcrBackend``): in
production it wraps pytesseract + cv2 (not installed in this sandbox
— ``default_backend`` raises a clear error); in tests a fake backend
drives every branch. Executors construct the backend lazily on first
call, so the adapter pickles into the mapInPandas closure without
dragging heavyweight handles across processes (E10's check runs once
per executor at warm-up, mirroring the per-engine validate calls).
"""

from __future__ import annotations

from typing import Any, Callable, Protocol

from ocr_intern_spark.oracle.semantics import Token

_AR_CONFIG_BLACKLIST = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
)


def arabic_config(psm: int = 6) -> str:
    """Arabic engine config (arabic.py:20-26): LSTM only, keep spaces,
    block Latin bleed-through."""
    return (
        f"--psm {psm} --oem 1 "
        "-c preserve_interword_spaces=1 "
        f"-c tessedit_char_blacklist={_AR_CONFIG_BLACKLIST}"
    )


FRENCH_CONFIG = "--psm 6 --oem 1"


def psm_for_image(shape: tuple[int, ...]) -> int:
    """E1 (base.py:75-86): PSM by aspect ratio — >1.4 landscape A4 →
    1 (auto+OSD), <0.8 portrait → 3 (full auto), else 6 (uniform
    block)."""
    height, width = shape[0], shape[1]
    aspect = width / height
    if aspect > 1.4:
        return 1
    if aspect < 0.8:
        return 3
    return 6


class OcrBackend(Protocol):
    """What the adapter needs from the OCR/image stack (the
    pytesseract + cv2 surface actually used by the reference)."""

    def image_to_data(self, image: Any, lang: str, config: str) -> dict: ...

    def get_languages(self) -> list[str]: ...

    def resize(self, image: Any, fx: float, fy: float) -> Any: ...


def default_backend() -> OcrBackend:
    """Production backend over pytesseract + OpenCV. Those libraries
    are not installed in this environment, so construction raises
    ImportError with the swap-in instructions; tests inject fakes."""
    try:
        import cv2  # noqa: F401
        import pytesseract  # noqa: F401
    except ImportError as e:  # pragma: no cover - env-dependent
        raise ImportError(
            "pytesseract/cv2 not available — inject a backend "
            "implementing OcrBackend (image_to_data/get_languages/"
            "resize) into TesseractRecognizer"
        ) from e

    class _Backend:  # pragma: no cover - requires native tesseract
        def image_to_data(self, image, lang, config):
            return pytesseract.image_to_data(
                image, lang=lang, config=config,
                output_type=pytesseract.Output.DICT,
            )

        def get_languages(self):
            return pytesseract.get_languages()

        def resize(self, image, fx, fy):
            return cv2.resize(
                image, None, fx=fx, fy=fy, interpolation=cv2.INTER_CUBIC
            )

    return _Backend()


def parse_data_dict(d: dict, lang: str) -> list[Token]:
    """E3 (base.py:177-211): parallel-array dict → Tokens, keeping
    conf >= 0 and nonempty stripped text."""
    out: list[Token] = []
    n = len(d.get("text", []))
    for i in range(n):
        conf = float(d["conf"][i])
        text = (d["text"][i] or "").strip()
        if conf >= 0 and text:
            out.append(
                Token(
                    text, conf,
                    int(d["left"][i]), int(d["top"][i]),
                    int(d["width"][i]), int(d["height"][i]),
                    lang,
                )
            )
    return out


class TesseractRecognizer:
    """media_ref → Token list via a real OCR backend.

    ``load_image``: media_ref → image (the S1 scan boundary — a blob
    fetch + decode in production). ``backend_factory`` builds the
    OcrBackend lazily per process."""

    def __init__(
        self,
        load_image: Callable[[str], Any],
        backend_factory: Callable[[], OcrBackend] = default_backend,
        preprocess: bool = False,
    ):
        """``preprocess=True`` reproduces the full reference image
        chain on ndarray images (pure numpy, no cv2): the GUI worker's
        whole-image pipeline P1-P4 (hybrid_ocr_gui.py:66-67 →
        preprocess.py:6-19) before OCR, plus the Arabic engine's P6
        chain inside the Arabic pass (arabic.py:92-93). The French
        engine consumes the pipeline output directly — the reference's
        FrenchOCR.process_document does NOT call its preprocess_image
        (french.py:70-84). Off by default: fake/test backends use
        opaque image handles."""
        self._load_image = load_image
        self._backend_factory = backend_factory
        self._preprocess = preprocess
        self._backend: OcrBackend | None = None
        self._langs: list[str] | None = None

    def _warm(self) -> OcrBackend:
        if self._backend is None:
            self._backend = self._backend_factory()
            # E10, once per process (executor warm-up)
            try:
                self._langs = list(self._backend.get_languages())
            except Exception:
                self._langs = []
        return self._backend

    def _require_lang(self, lang: str) -> None:
        if self._langs is not None and lang not in self._langs:
            # base.py:156-163 via arabic.py:89-91 / french.py:74-76
            raise RuntimeError(
                f"{lang} language support not installed in Tesseract"
            )

    def arabic_pass(self, image: Any) -> list[Token]:
        """E5 (arabic.py:84-120): psm 6, then upscale+psm 7 retry iff
        the first pass parsed to nothing."""
        be = self._warm()
        self._require_lang("ara")
        if self._preprocess:
            from ocr_intern_spark.functions.imageproc import arabic_preprocess

            image = arabic_preprocess(image)  # arabic.py:92-93 (P6)
        d = be.image_to_data(image, lang="ara", config=arabic_config(6))
        results = parse_data_dict(d, "ara")
        if not results:
            try:
                bigger = be.resize(image, 1.3, 1.3)
            except Exception:
                bigger = image  # arabic.py:109-111
            d2 = be.image_to_data(bigger, lang="ara", config=arabic_config(7))
            results = parse_data_dict(d2, "ara")
        return results

    def french_pass(self, image: Any) -> list[Token]:
        """E7 (french.py:70-84): single pass."""
        be = self._warm()
        self._require_lang("fra")
        d = be.image_to_data(image, lang="fra", config=FRENCH_CONFIG)
        return parse_data_dict(d, "fra")

    def process_regions(
        self,
        image: Any,
        regions: list[tuple[int, int, int, int]],
        lang: str,
    ) -> list[Token]:
        """F6 region re-projection (hybrid.py:156-180): crop each
        (x, y, w, h) region, run the per-language engine pass on the
        crop, then translate every child token's bbox by (+x, +y) back
        into page coordinates — the reference's
        ``adjusted_bbox = (bbox[0] + x, bbox[1] + y, bbox[2], bbox[3])``
        with width/height preserved."""
        engine_pass = self.arabic_pass if lang == "ara" else self.french_pass
        out: list[Token] = []
        for x, y, w, h in regions:
            crop = image[y : y + h, x : x + w]
            for t in engine_pass(crop):
                out.append(t._replace(x=t.x + x, y=t.y + y))
        return out

    def process_template_region(
        self, image: Any, rel: dict[str, float], lang: str
    ) -> list[Token]:
        """T1+F6 composed: resolve a RELATIVE template region through
        abs_region (clamped pixel box, template_extractor.py:108-119),
        crop, recognize, and re-project token bboxes to page
        coordinates. This is the image-domain path the region-addressed
        stub (`media_ref#section.field`) stands in for when no decoder
        is available."""
        from ocr_intern_spark.operators.template_fields import abs_region

        height, width = image.shape[0], image.shape[1]
        box = abs_region(height, width, rel)
        return self.process_regions(image, [box], lang)

    def layout_pass(self, image: Any) -> list[Token]:
        """F2+F6 composed (the analyze_layout → _process_regions
        route): classify text blocks by the projection-std heuristic,
        then run each block through its language's engine with bboxes
        re-projected to page coordinates. Arabic regions first, like
        the hybrid orchestration's emit order."""
        from ocr_intern_spark.functions.imageproc import analyze_layout

        regions = analyze_layout(image)
        return self.process_regions(
            image, regions["arabic"], "ara"
        ) + self.process_regions(image, regions["french"], "fra")

    def detector_pass(self, image: Any) -> list[Token]:
        """F7+F8 detector algorithms on the page image, emitted as
        geometry-candidate tokens (kind='handwriting'/'stamp') for the
        pass-through span path: handwriting = adaptive-threshold-INV
        component boxes with area > 100 and 0.2 < aspect < 15
        (main_window.py:66-95); stamps = Hough circles with radius
        50-100 (test_morocco_documents.py:248-265), boxed as the
        circle's bounding square like a region list entry."""
        from ocr_intern_spark.functions.imageproc import (
            detect_handwriting_regions,
            detect_stamp_circles,
        )

        out = [
            Token("", 0.0, x, y, w, h, "", kind="handwriting")
            for x, y, w, h in detect_handwriting_regions(image)
        ]
        out += [
            Token("", 0.0, cx - r, cy - r, 2 * r, 2 * r, "", kind="stamp")
            for cx, cy, r in detect_stamp_circles(image)
        ]
        return out

    def __call__(self, media_ref: str) -> list[Token]:
        """F5 hybrid orchestration (hybrid.py:130-154): run both
        engines, Arabic tokens first. F1/F4/R2 run downstream in the
        fusion stage."""
        image = self._load_image(media_ref)
        if self._preprocess:
            from ocr_intern_spark.functions.imageproc import preprocess_pipeline

            # GUI worker chain (hybrid_ocr_gui.py:66-67): P1-P4 on the
            # whole image before both engines
            image = preprocess_pipeline(image)
        return self.arabic_pass(image) + self.french_pass(image)

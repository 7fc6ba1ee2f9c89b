"""HTML parsing for the ingest pipeline (SURVEY.md §2.9 F4-F6, §2.10 D1).

Pure-Python stdlib parser (html.parser — lxml is not in this image)
wrapped in an Arrow-batched UDF at the pipeline layer. Semantics match
the reference spider's extraction rules
(reference backend/src/crawlers/scrapy/dynamic_spider.py:52-77):

  * title        = //title/text()
  * description  = //meta[@name='description']/@content
  * meta_tags    = {name-or-property: content} for every <meta>
  * content      = visible body text, excluding script/style/noscript/
                   template/svg subtrees, whitespace-normalized
  * links        = href of <a> + src of <img>, absolutized against the
                   page url (LinkExtractor tags=('a','img'),
                   attrs=('href','src') — dynamic_spider.py:13-25)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html.parser import HTMLParser
from urllib.parse import urljoin, urlparse

_EXCLUDED_SUBTREES = {"script", "style", "noscript", "template", "svg"}


@dataclass
class ParsedPage:
    title: str | None = None
    meta_description: str | None = None
    meta_tags: dict[str, str] = field(default_factory=dict)
    content: str | None = None
    links: list[str] = field(default_factory=list)


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.title_parts: list[str] = []
        self.text_parts: list[str] = []
        self.meta_tags: dict[str, str] = {}
        self.links: list[str] = []
        self._in_title = False
        self._excluded_depth = 0

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag in _EXCLUDED_SUBTREES:
            self._excluded_depth += 1
        elif tag == "title":
            self._in_title = True
        elif tag == "meta":
            key = a.get("name") or a.get("property")
            if key is not None and a.get("content") is not None:
                self.meta_tags[key] = a["content"]
        elif tag == "a" and a.get("href"):
            self.links.append(a["href"])
        elif tag == "img" and a.get("src"):
            self.links.append(a["src"])

    def handle_startendtag(self, tag, attrs):
        # a SELF-CLOSING tag never gets a matching end tag, so routing
        # it through handle_starttag must not touch _excluded_depth —
        # one <svg/> icon would otherwise suppress every title/body
        # character after it for the rest of the document (review-found:
        # such pages parsed to content=None and dead-lettered)
        if tag in _EXCLUDED_SUBTREES:
            return
        self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if tag in _EXCLUDED_SUBTREES and self._excluded_depth > 0:
            self._excluded_depth -= 1
        elif tag == "title":
            self._in_title = False

    def handle_data(self, data):
        if self._excluded_depth:
            return
        if self._in_title:
            self.title_parts.append(data)
        elif data.strip():
            # normalize-space() semantics: collapse internal runs too
            self.text_parts.append(" ".join(data.split()))


def parse_html(html: str, base_url: str | None = None) -> ParsedPage:
    """Parse one HTML document into the reference's item fields."""
    p = _Extractor()
    try:
        p.feed(html)
        p.close()
    except Exception:
        pass  # salvage whatever was extracted before the error
    title = "".join(p.title_parts).strip() or None
    links = p.links
    if base_url:
        # per-link guard: urljoin raises ValueError on garbage hrefs
        # (e.g. "http://[" — invalid IPv6 bracket), and this runs
        # OUTSIDE the feed() salvage above — one hostile anchor must
        # drop that link, never fail the parse task (review-found)
        absolutized = []
        for l in links:
            try:
                absolutized.append(urljoin(base_url, l))
            except ValueError:
                continue
        links = absolutized
    content = " ".join(t for t in (s.strip() for s in p.text_parts) if t) or None
    return ParsedPage(
        title=title,
        meta_description=p.meta_tags.get("description"),
        meta_tags=p.meta_tags,
        content=content,
        links=links,
    )


def url_domain(url: str) -> str | None:
    """netloc of the url (reference db.py:60 urlparse(url).netloc)."""
    try:
        return urlparse(url).netloc or None
    except Exception:
        return None

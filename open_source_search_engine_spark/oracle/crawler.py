"""Straight-line Python oracle crawler — the crawl-order/URL-seen golden.

Implements the batch-round restatement of the reference scheduling loop
(SURVEY §3.1) with dict state.  The Spark pipeline (plans/scheduler.py) must
reproduce its (round, seq, url) schedule and final url_seen set exactly —
that IS the parity gate of the north rule.

Round semantics (shared spec — both implementations follow this literally):

each round r has now_ms = t0 + r*round_ms; then
1. latest reply per uh48 = max spidered_time_ms        (Spider.cpp:3993-4004)
2. collapse duplicate requests per uh48: min (hop_count, added_time_ms);
   OR the is_addurl/parent flags                       (dedupSpiderdbList,
                                                        Spider.cpp:13582)
3. url-filter: first matching rule → priority/freq/ipwait/harvest/delete;
   drop force_delete rows                              (getUrlFilterNum)
4. robots: disallowed urls are dropped (never fetched); crawl_delay =
   robots delay, default 250ms, cap 60s                (XmlDoc isAllowed2)
5. spider_time_ms = max(added_time_ms,
                        last_ip_download + ip_wait_ms,
                        last_ip_download + crawl_delay_ms,
                        last_spidered_ms + freq_days*86400e3)
                                                       (getSpiderTimeMS,
                                                        Spider.cpp:5978)
6. due := spider_time_ms <= now_ms; per-IP winners = top-K ordered by
   (priority desc, hop_count asc, spider_time_ms asc, uh48 asc)
                                                       (makeWinnerTreeKey +
                                                        tie chain
                                                        Spider.cpp:4864-4902)
7. per-IP spacing: j-th winner of an IP gets fetch_time = now_ms +
   j*eff_delay, eff_delay = max(ip_wait_ms, crawl_delay_ms); rows whose
   fetch_time >= now_ms+round_ms wait for a later round (batch analog of
   the hammer queue, Msg13.cpp:3070)
8. global order: (priority desc, fetch_time asc, uh48 asc) limit budget →
   the round's crawl order                             (doledb priority
                                                        scan Spider.cpp:6758)
9. fetch = lookup in pages: hit → reply(http 200, indexed); miss → reply
   (err ERR_NOT_FOUND, err_count+1)
10. harvest outlinks (nofollow/self skipped, unknown hosts skipped =
    failed-DNS analog), hop+1, dedup against url_seen  (XmlDoc.cpp:27415)
11. update per-IP last_download = max fetch_time; append replies; commit
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from ..kernel import (contact, extract, gbhash, robots, sitelist,
                      urlfilter, urlflags as _urlflags, urlnorm)


@dataclass
class CrawlConfig:
    round_ms: int = 600_000          # 10 min simulated rounds
    budget: int = 300                # MAX_SPIDERS analog (Spider.h:1502)
    winner_k: int = 2000             # MAX_WINNER_NODES (Spider.cpp:61)
    user_agent: str = robots.DEFAULT_USER_AGENT
    rules: tuple = urlfilter.DEFAULT_WEB_PROFILE
    rounds: int = 5
    t0_ms: int = 1_600_000_000_000
    site_list: str = ""      # insitelist patterns (PageBasic.cpp:471)
    # D6 concurrency caps: simulated download duration.  0 (default) =
    # instantaneous fetches — concurrent-outstanding counts are always 0,
    # exactly like the reference with sub-wait fetch times, so
    # ip_max_spiders / max_spiders never bind.  >0 = each fetch occupies
    # its IP for fetch_duration_ms; then ip_max_spiders bounds per-IP
    # concurrency (Spider.cpp:6084-6242) and max_spiders bounds per-rule
    # in-flight slots (Spider.cpp:9254), batch-modeled as
    # max_spiders * ceil(round_ms/duration) schedulable per rule per round.
    fetch_duration_ms: int = 0
    # Spark-only, parity-neutral: host-keyed tables (hostmeta, parsed
    # robots rules, ip_state) are broadcast ONLY while their estimated
    # bytes (|hosts| × schema-estimated row width, functions/joins.py)
    # fit broadcast_host_max_bytes; above it they go through ordinary
    # shuffle joins (at the 10^10-URL design point hostmeta is 10^7-10^9
    # hosts — a forced broadcast would be a multi-GB driver OOM).  AQE
    # may still pick a broadcast by measured size on the shuffle path.
    broadcast_host_max_bytes: int = 128 * 1024 * 1024


@dataclass
class Request:
    url: str
    uh48: int
    first_ip: int
    host: str
    hop_count: int
    added_time_ms: int
    discovery_time_ms: int
    domain: str = ""
    is_addurl: bool = False
    is_injected: bool = False
    is_reindex: bool = False
    same_dom: bool = False
    same_host: bool = False
    parent_is_rss: bool = False
    parent_is_sitemap: bool = False
    page_num_inlinks: int = 0
    # SpiderRequest flag bits (Spider.h:592-698)
    is_rss: bool = False
    is_new_outlink: bool = False
    was_parent_indexed: bool = False
    is_docid_based: bool = False
    has_authority_inlink: bool = False
    # m_inGoogle from the site's TagRec (Spider.cpp:12182-12205):
    # None = site has no tag = valid bit off = ingoogle rules skipped
    in_google: bool | None = False
    parent_is_pingserver: bool = False  # m_parentIsPingServer


@dataclass
class Reply:
    uh48: int
    first_ip: int
    spidered_time_ms: int
    err_code: int
    err_count: int
    http_status: int
    is_indexed: bool
    lang: str = ""
    content_hash32: int = 0               # m_contentHash32 (Spider.h:869)
    percent_changed_per_day: float = 0.0  # Spider.h:846
    new_requests: int = 0                 # m_newRequests (newinlinks)
    # m_hasContactInfo / m_hasAddress (Spider.h:665,919; consumed at
    # Spider.cpp:11770,11787) — derived from page content at fetch time
    # by the kernel/contact.py predicates
    has_contact_info: bool = False
    has_address: bool = False


def content_hash32(html) -> int:
    """Shared spec with udfs.content_hash32_udf: gb hash32 over utf-8
    bytes, as signed int32."""
    if html is None:
        return 0
    if isinstance(html, str):
        html = html.encode("utf-8", "replace")
    return np.int32(np.uint32(gbhash.hash32(html))).item()


@dataclass
class OracleState:
    requests: list = field(default_factory=list)
    replies: list = field(default_factory=list)
    ip_last_download_ms: dict = field(default_factory=dict)
    url_seen: dict = field(default_factory=dict)  # uh48 → first_seen_round
    schedule: list = field(default_factory=list)  # (round, seq, url, ...)
    metrics: list = field(default_factory=list)
    # F3: uh48 → set of parent C-blocks (ip>>8), capped at 20 at eval time
    # (Spider.cpp:4290-4332)
    inlink_cblocks: dict = field(default_factory=dict)


class OracleCrawler:
    def __init__(self, pages: pd.DataFrame, hostmeta: pd.DataFrame,
                 seeds: pd.DataFrame, cfg: CrawlConfig | None = None):
        self.cfg = cfg or CrawlConfig()
        self.pages = {r.url: r for r in pages.itertuples()}
        self.hostmeta = {r.host: r for r in hostmeta.itertuples()}
        self.state = OracleState()
        self._robots_cache: dict[str, tuple[str, int]] = {}
        self.site_list = sitelist.parse(self.cfg.site_list)
        self._rule_kws = set()
        for r in self.cfg.rules:
            for t in urlfilter.parse_expression(r.expression):
                self._rule_kws.add(t.keyword)
        for r in seeds.itertuples():
            self.add_request(r.url, hop=0, added_ms=int(r.added_time_ms),
                             rnd=0, is_addurl=True)

    # ------------------------------------------------------------------
    def add_request(self, raw_url: str, hop: int, added_ms: int, rnd: int,
                    is_addurl: bool = False, parent_host: str = "",
                    parent_domain: str = "", is_rss: bool = False,
                    from_harvest: bool = False,
                    parent_is_pingserver: bool = False) -> bool:
        url = urlnorm.canonicalize(raw_url)
        if not url:
            return False
        host = urlnorm.get_host(url)
        hm = self.hostmeta.get(host)
        if hm is None:
            return False  # DNS-failure analog: unknown host skipped
        h = gbhash.uh48(url)
        if h in self.state.url_seen:
            return False  # url-seen dedup (C1/C5)
        self.state.url_seen[h] = rnd
        dom = urlnorm.get_domain(host)
        # m_inGoogle from the ingested hostmeta (tagdb analog): absent
        # column → pre-round-5 always-valid-False model; a null/NA cell
        # → no tag → None (valid bit off, ingoogle rules skipped)
        ig = getattr(hm, "in_google", False)
        try:
            import pandas as pd
            ig = None if ig is None or pd.isna(ig) else bool(ig)
        except TypeError:
            ig = bool(ig)
        self.state.requests.append(Request(
            url=url, uh48=h, first_ip=int(hm.first_ip), host=host,
            domain=dom, hop_count=hop, added_time_ms=added_ms,
            discovery_time_ms=added_ms, is_addurl=is_addurl,
            same_host=(host == parent_host),
            same_dom=(dom != "" and dom == parent_domain),
            is_rss=is_rss, is_new_outlink=from_harvest,
            was_parent_indexed=from_harvest,
            parent_is_pingserver=parent_is_pingserver,
            in_google=ig,
        ))
        return True

    def _robots(self, host: str) -> tuple[str, int]:
        hm = self.hostmeta[host]
        return hm.robots_txt, int(hm.robots_status)

    # ------------------------------------------------------------------
    def run_round(self, rnd: int) -> int:
        cfg = self.cfg
        now_ms = cfg.t0_ms + rnd * cfg.round_ms
        # 1. latest reply per uh48 (tiebreaker tuple matches the Spark
        # argmax struct: deterministic under same-ms duplicate replies)
        latest: dict[int, Reply] = {}
        for rep in self.state.replies:
            cur = latest.get(rep.uh48)
            if cur is None or \
                    (rep.spidered_time_ms, rep.err_code, rep.err_count,
                     rep.http_status) > \
                    (cur.spidered_time_ms, cur.err_code, cur.err_count,
                     cur.http_status):
                latest[rep.uh48] = rep
        # 2. dedup requests per uh48
        by_uh: dict[int, Request] = {}
        for rq in self.state.requests:
            cur = by_uh.get(rq.uh48)
            if cur is None or (rq.hop_count, rq.added_time_ms) < \
                    (cur.hop_count, cur.added_time_ms):
                if cur is not None:
                    rq.is_addurl = rq.is_addurl or cur.is_addurl
                by_uh[rq.uh48] = rq
            elif cur is not None:
                cur.is_addurl = cur.is_addurl or rq.is_addurl
        # quota tables (F2, Spider.cpp:4355-4426) — only when a rule reads
        # them; votes = deduped requests whose LATEST reply is indexed
        kws = self._rule_kws
        site_pages: dict[str, int] = {}
        dom_pages: dict[str, int] = {}
        seed_count: dict[str, int] = {}
        if kws & {"sitepages", "domainpages", "seedcount"}:
            for rq in by_uh.values():
                rep = latest.get(rq.uh48)
                if rep is not None and rep.is_indexed:
                    site_pages[rq.host] = site_pages.get(rq.host, 0) + 1
                    dom_pages[rq.domain] = dom_pages.get(rq.domain, 0) + 1
                if rq.is_addurl or rq.is_injected:
                    seed_count[rq.host] = seed_count.get(rq.host, 0) + 1

        # 3-6. evaluate + politeness + due + winners per IP
        per_ip: dict[int, list] = {}
        for rq in by_uh.values():
            # B1 corruption/sanity filter (Spider.cpp:4471-4512):
            # http(s) prefix, record size, far-future added time
            if not rq.url.startswith("http") or len(rq.url) > 1024:
                continue
            if rq.added_time_ms > now_ms + 86_400_000:
                continue
            rep = latest.get(rq.uh48)
            hm = self.hostmeta.get(rq.host)
            sni = int(getattr(hm, "site_num_inlinks", 0) or 0) \
                if hm is not None else 0
            ctx = urlfilter.build_context(
                dict(url=rq.url, host=rq.host, domain=rq.domain,
                     hop_count=rq.hop_count,
                     added_time=rq.added_time_ms // 1000,
                     discovery_time=rq.discovery_time_ms // 1000,
                     is_addurl=rq.is_addurl, is_injected=rq.is_injected,
                     is_reindex=rq.is_reindex, same_dom=rq.same_dom,
                     same_host=rq.same_host,
                     parent_is_rss=rq.parent_is_rss,
                     parent_is_sitemap=rq.parent_is_sitemap,
                     is_rss=rq.is_rss, is_new_outlink=rq.is_new_outlink,
                     was_parent_indexed=rq.was_parent_indexed,
                     is_docid_based=rq.is_docid_based,
                     has_authority_inlink=rq.has_authority_inlink,
                     in_google=rq.in_google,
                     parent_is_pingserver=rq.parent_is_pingserver,
                     site_pages=site_pages.get(rq.host, 0),
                     domain_pages=dom_pages.get(rq.domain, 0),
                     seed_count=seed_count.get(rq.host, 0),
                     site_num_inlinks=sni,
                     page_num_inlinks=min(
                         20, len(self.state.inlink_cblocks.get(rq.uh48,
                                                               ()))),
                     tld=urlnorm.get_tld(rq.host)),
                None if rep is None else dict(
                    err_code=rep.err_code, err_count=rep.err_count,
                    http_status=rep.http_status, is_indexed=rep.is_indexed,
                    percent_changed_per_day=rep.percent_changed_per_day,
                    new_requests=rep.new_requests,
                    has_contact_info=rep.has_contact_info,
                    has_address=rep.has_address,
                    spidered_time=rep.spidered_time_ms // 1000),
                now_ms // 1000, site_list=self.site_list)
            idx = urlfilter.evaluate(cfg.rules, ctx)
            rule = cfg.rules[idx]
            if rule.force_delete or rule.max_spiders == 0:
                continue
            # 4. robots
            txt, status = self._robots(rq.host)
            verdict = robots.check(txt, urlnorm.get_path_cgi(rq.url),
                                   cfg.user_agent, status)
            if not verdict.allowed:
                continue
            cd_ms = robots.final_crawl_delay_ms(verdict.crawl_delay_ms)
            # 5. spider time
            last_dl = self.state.ip_last_download_ms.get(rq.first_ip, 0)
            st = rq.added_time_ms
            if not (rep is None and (rq.is_injected or rq.is_reindex)):
                st = max(st, last_dl + rule.ip_wait_ms, last_dl + cd_ms)
                if rep is not None and rep.spidered_time_ms > 0:
                    wait_ms = int(rule.spider_freq_days * 86400.0 * 1000)
                    st = max(st, rep.spidered_time_ms + wait_ms)
            if st > now_ms:
                continue  # not due
            per_ip.setdefault(rq.first_ip, []).append(
                (rule.priority, rq.hop_count, st, rq.uh48, rq, rule, cd_ms,
                 idx))
        # 6-7. winners + spacing (+ D6 per-IP concurrency cap when a fetch
        # duration is modeled: start_j >= start_{j-k} + d for k =
        # ip_max_spiders, Spider.cpp:6084-6242)
        d = cfg.fetch_duration_ms
        candidates = []
        for ip, rows in per_ip.items():
            rows.sort(key=lambda t: (-t[0], t[1], t[2], t[3]))
            rows = rows[: cfg.winner_k]
            starts: list[int] = []
            prev_eff = 0
            for (pri, hop, st, uh, rq, rule, cd_ms, ridx) in rows:
                t = now_ms if not starts else starts[-1] + prev_eff
                if d > 0:
                    k = max(1, rule.ip_max_spiders)
                    if len(starts) >= k:
                        t = max(t, starts[len(starts) - k] + d)
                if t >= now_ms + cfg.round_ms:
                    break
                starts.append(t)
                candidates.append((pri, t, uh, rq, rule, cd_ms, ridx))
                prev_eff = max(rule.ip_wait_ms, cd_ms)
        # 8. global order (+ D6 per-rule slots when d>0: max_spiders
        # concurrent slots × ceil(round/d) schedulable per rule per round,
        # Spider.cpp:9254) + budget
        candidates.sort(key=lambda c: (-c[0], c[1], c[2]))
        if d > 0:
            slots = -(-cfg.round_ms // d)  # ceil
            rule_counts: dict[int, int] = {}
            kept = []
            for c in candidates:
                ridx = c[6]
                cap = cfg.rules[ridx].max_spiders * slots
                if rule_counts.get(ridx, 0) >= cap:
                    continue
                rule_counts[ridx] = rule_counts.get(ridx, 0) + 1
                kept.append(c)
            candidates = kept
        scheduled = candidates[: cfg.budget]
        # 9-11. fetch + harvest + state updates
        n_ok = n_err = n_new = 0
        ip_max_fetch: dict[int, int] = {}
        for seq, (pri, ftime, uh, rq, rule, cd_ms, _ridx) in \
                enumerate(scheduled):
            self.state.schedule.append(dict(
                round=rnd, seq=seq, url=rq.url, uh48=uh,
                first_ip=rq.first_ip, priority=pri,
                hop_count=rq.hop_count, fetch_time_ms=ftime))
            page = self.pages.get(rq.url)
            prev = latest.get(uh)
            prev_errs = prev.err_count if prev is not None else 0
            if page is None:
                n_err += 1
                self.state.replies.append(Reply(
                    uh48=uh, first_ip=rq.first_ip, spidered_time_ms=ftime,
                    err_code=urlfilter.ERR_NOT_FOUND,
                    err_count=prev_errs + 1, http_status=404,
                    is_indexed=False))
            else:
                n_ok += 1
                # m_contentHash32 + m_percentChangedPerDay (Spider.h:846):
                # hash delta vs the previous fetch over elapsed days
                ch = content_hash32(page.html)
                pcd = 0.0
                if (prev is not None and prev.spidered_time_ms > 0 and
                        prev.content_hash32 != 0 and
                        ch != prev.content_hash32 and
                        ftime - prev.spidered_time_ms > 0):
                    pcd = 100.0 / ((ftime - prev.spidered_time_ms)
                                   / 86400000.0)
                hstr = page.html.decode("utf-8") \
                    if isinstance(page.html, (bytes, bytearray)) \
                    else page.html
                this_reply = Reply(
                    uh48=uh, first_ip=rq.first_ip, spidered_time_ms=ftime,
                    err_code=0, err_count=0, http_status=200,
                    is_indexed=True, lang=page.lang, content_hash32=ch,
                    percent_changed_per_day=pcd,
                    has_contact_info=contact.has_contact_info(hstr),
                    has_address=contact.has_address(hstr))
                self.state.replies.append(this_reply)
                if rule.harvest_links:
                    html = page.html.decode("utf-8") \
                        if isinstance(page.html, (bytes, bytearray)) \
                        else page.html
                    links = extract.dedup_links(
                        extract.extract_links(html, rq.url))
                    pdom = urlnorm.get_domain(rq.host)
                    for ln in links:
                        if ln.nofollow:
                            continue
                        luh = gbhash.uh48(ln.url)
                        if luh == uh:
                            continue  # self link
                        # F3: record parent C-block for every surviving
                        # link (known hosts only — DNS-fail analog), even
                        # when the url was already seen
                        lhost = urlnorm.get_host(ln.url)
                        if lhost in self.hostmeta:
                            self.state.inlink_cblocks.setdefault(
                                luh, set()).add(rq.first_ip >> 8)
                        if self.add_request(
                                ln.url, hop=rq.hop_count + 1,
                                added_ms=ftime, rnd=rnd,
                                parent_host=rq.host, parent_domain=pdom,
                                is_rss=bool(ln.is_rss), from_harvest=True,
                                parent_is_pingserver=_urlflags
                                .is_ping_server(rq.url)):
                            n_new += 1
                            # m_newRequests: new requests THIS fetch added
                            this_reply.new_requests += 1
            ip_max_fetch[rq.first_ip] = max(
                ip_max_fetch.get(rq.first_ip, 0), ftime)
        for ip, t in ip_max_fetch.items():
            self.state.ip_last_download_ms[ip] = t
        self.state.metrics.append(dict(
            round=rnd, scheduled=len(scheduled), fetched_ok=n_ok,
            fetch_errors=n_err, new_urls=n_new,
            frontier_size=len(self.state.requests),
            seen_size=len(self.state.url_seen)))
        return len(scheduled)

    def run(self, rounds: int | None = None) -> OracleState:
        for r in range(rounds if rounds is not None else self.cfg.rounds):
            self.run_round(r)
        return self.state
